package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Datastream, Granularity}
import graft.ext.Ivf

/** A workload: set-up (warm-up included), closed-loop cycles of timed
  * operations, and checks of the engine's results against a plain-Spark
  * recomputation of the generated input. Every call into an engine layer
  * goes through a named span.
  */
abstract class Workload(val ctx: Ctx) {
  import Traffic._
  val spark = ctx.spark
  import spark.implicits._
  val tr: Tracer = ctx.tracer
  val traffic = new Traffic(ctx.seed)
  val warehouse = s"${ctx.dir}/warehouse"
  val indexPath = s"${ctx.dir}/index"
  lazy val ds: Datastream = new Datastream(spark, warehouse)
  val IndexCells = 16

  def setup(): Unit
  def cycle(i: Int): Unit
  def verify(): Unit
  /** Cycles the timed phase runs even when `--seconds` pass sooner. */
  def minCycles: Int = 1

  /** Points the workload committed, for the storage ratio. */
  var pointsWritten = 0L
  /** Index versions this workload has published (0 = no index yet). */
  var indexBatches = 0L

  def verb[A](v: String)(body: => A): A = tr.span(s"verb.$v")(body)

  /** A read through the query layer: the engine call that plans the frame,
    * then the collect that runs it.
    */
  def read(plan: => DataFrame): Array[Row] = tr.span("read") {
    val df = tr.span("read.plan")(plan)
    tr.span("read.collect")(df.collect())
  }

  def frame(points: Seq[Point]): DataFrame =
    points.map(p => (p.stream, p.timestamp, p.value)).toDF("stream_id", "ts", "value")

  def vectorFrame(vs: Seq[(Long, Array[Float])]): DataFrame = vs.toDF("vec_id", "embedding")

  def ensure(metas: Seq[graft.StreamMeta]): Unit = verb("ensure")(ds.ensureStreams(metas))

  def appendAll(points: Seq[Point]): Unit = {
    verb("append")(ds.appendMultiple(frame(points)))
    pointsWritten += points.size
  }

  def downsample(until: Long): Unit = verb("downsample")(ds.downsampleStreams(ts(until)))

  def buildIndex(n: Int): Seq[(Long, Array[Float])] = {
    val vs = traffic.vectors(0L, n)
    tr.span("index.build")(Ivf.buildIndex(vectorFrame(vs), indexPath, IndexCells))
    indexBatches = 1
    vs
  }

  def indexAppend(vs: Seq[(Long, Array[Float])]): Unit = {
    indexBatches += 1
    tr.span("index.append")(
      Ivf.appendBatchToIndex(vectorFrame(vs), indexPath, indexBatches, IndexCells))
  }

  def indexQuery(qs: Seq[(Long, Array[Float])], k: Int, nProbe: Int): Array[Row] =
    tr.span("index.query")(
      Ivf.queryIndex(indexPath, vectorFrame(qs), k, nProbe).collect())

  /** Rows (stream, ts, value) of `points` as a frame, for the recomputation. */
  def expectedFrame(points: Seq[(Point, Long)]): DataFrame =
    points.map { case (p, seq) => (p.stream, p.timestamp, p.value, seq) }
      .toDF("stream_id", "ts", "value", "seq")

  /** (count, exact decimal sum) per key of a (key..., cnt, vsum) frame. */
  def sums(df: DataFrame, keys: Int): Map[Seq[Any], (Long, BigDecimal)] =
    df.collect().map { r =>
      (0 until keys).map(r.get) -> (r.getLong(keys), BigDecimal(r.getDecimal(keys + 1)))
    }.toMap

  def dec(c: String) = col(c).cast("decimal(38,10)")

  /** Compare two (count, sum) maps; name the first few differences. */
  def sameSums(name: String, got: Map[Seq[Any], (Long, BigDecimal)],
               want: Map[Seq[Any], (Long, BigDecimal)]): Boolean = {
    val bad = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
    if (bad.nonEmpty)
      System.err.println(s"perfbench: $name: ${bad.size} mismatches, e.g. " +
        bad.take(3).map(k => s"$k got ${got.get(k)} want ${want.get(k)}").mkString("; "))
    bad.isEmpty
  }

  /** Recall of the index's top-k against brute-force cosine top-k over
    * `corpus`, computed with plain Spark.
    */
  def recall(corpus: Seq[(Long, Array[Float])], queries: Seq[(Long, Array[Float])],
             got: Seq[Row], k: Int): Double = {
    val dot = "aggregate(zip_with(q, v, (a, b) -> cast(a as double) * b), 0D, (s, x) -> s + x)"
    val norm = (c: String) => s"sqrt(aggregate($c, 0D, (s, x) -> s + cast(x as double) * x))"
    val exact = vectorFrame(queries).toDF("qid", "q")
      .crossJoin(vectorFrame(corpus).toDF("vid", "v"))
      .select(col("qid"), col("vid"), expr(s"$dot / (${norm("q")} * ${norm("v")})").as("cos"))
      .withColumn("r", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("vid"))))
      .where(col("r") <= k).select("qid", "vid").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, vs) => q -> vs.map(_._2).toSet }
    val approx = got.map(r => r.getAs[Long]("query_vec_id") -> r.getAs[Long]("vec_id"))
      .groupBy(_._1).map { case (q, vs) => q -> vs.map(_._2).toSet }
    val per = exact.map { case (q, want) =>
      approx.getOrElse(q, Set.empty[Long]).intersect(want).size.toDouble / want.size }
    if (per.isEmpty) 0.0 else per.sum / per.size
  }
}

/** Streaming ingest: small `appendBatch` micro-batches into a few hundred
  * Zipf-skewed streams with quiet nodes and late rows, and every few
  * batches a maintenance step (downsample cascade, incremental derived
  * refresh, index fold of the cycle's embeddings).
  */
final class Ingest(ctx: Ctx) extends Workload(ctx) {
  import Traffic._
  import spark.implicits._
  /** Event time of one micro-batch: about 4800 rows at the traffic's rate. */
  val WindowLen: Long = 3600L
  /** Micro-batches per maintenance step: one cycle. */
  val BatchesPerCycle = 4
  /** One cycle takes longer than the run's seconds; two give every run
    * more than 10 commits, past a full-manifest checkpoint.
    */
  override def minCycles: Int = 2
  val VectorsPerCycle = 200
  /** Event time of the first batch, 4 h before a midnight, so the first
    * timed maintenance step finalizes a day.
    */
  val Start: Long = Epoch - 4 * 3600L

  val derived: Seq[graft.StreamMeta] =
    (0 until Sites).map { s =>
      meta(s"d.s$s.power_sum", Map("site" -> s"s$s", "kind" -> "power_sum"), Some("sum"),
        traffic.sources.filter(x => x.site == s && x.kind == "power").map(_.id))
    } ++ (0 until 4).map { n =>
      meta(s"d.${nodeTag(n)}.energy_rate", Map("node" -> nodeTag(n), "kind" -> "energy_rate"),
        Some("counter_derivative"), Seq(s"${nodeTag(n)}.energy"))
    }

  /** Every batch handed to the engine, with its batch id. */
  val batches = mutable.ArrayBuffer.empty[(Seq[Point], Long)]
  val appended = mutable.ArrayBuffer.empty[(Long, Array[Float])]
  var window = 0
  var maintainedUntil = Start

  def appendBatch(): Unit = {
    val pts = traffic.window(Start + window * WindowLen, WindowLen, IdleShare, LateShare)
    val id = window.toLong
    window += 1
    batches += pts -> id
    ctx.op("append", "op") { verb("append")(ds.appendBatch(frame(pts), id)) }
    pointsWritten += pts.size
  }

  def setup(): Unit = {
    ensure(traffic.sourceMetas ++ derived)
    buildIndex(500)
    // warm-up: one append and one maintenance step, so the timed phase
    // carries none of the first calls' class loading and code generation
    appendBatch()
    maintain(-1)
  }

  def cycle(i: Int): Unit = {
    (0 until BatchesPerCycle).foreach(_ => appendBatch())
    maintain(i)
  }

  def maintain(i: Int): Unit = {
    // up to the newest batch's start: a late row lands at most one window
    // back, so never in a bucket that is already final
    val until = Start + (window - 1) * WindowLen
    val vs = traffic.vectors(1000000L + (i + 1) * VectorsPerCycle, VectorsPerCycle)
    ctx.op("maintain", "heavy") {
      verb("downsample")(ds.downsampleStreams(ts(until)))
      verb("derive_refresh")(ds.updateDerivedStreamsIncremental(ts(until)))
      indexAppend(vs)
    }
    appended ++= vs
    maintainedUntil = until
  }

  def verify(): Unit = {
    // rows kept by appendBatch: those not older than the stream's newest
    // point of every earlier batch (older ones are dropped as stale)
    val input = expectedFrame(batches.toSeq.flatMap { case (ps, id) => ps.map(_ -> id) })
    val prevMax = max(col("ts")).over(Window.partitionBy("stream_id").orderBy("seq")
      .rangeBetween(Window.unboundedPreceding, -1))
    val kept = input.withColumn("prev", prevMax)
      .where(col("prev").isNull || col("ts") >= col("prev"))
    val sourceIds = traffic.sources.map(_.id)
    ctx.checkRun("ingest.row_counts", sameSums("ingest.row_counts",
      sums(ds.rawDatapoints.where(col("stream_id").isin(sourceIds: _*))
        .groupBy("stream_id").agg(count(lit(1)), sum(dec("value"))), 1),
      sums(kept.groupBy("stream_id").agg(count(lit(1)), sum(dec("value"))), 1)))
    // hour and day rollups of every bucket the maintenance steps finalized
    Seq(("hour", Granularity.Hours, 3600L), ("day", Granularity.Days, Day)).foreach { case (n, g, len) =>
      val bucket = (c: String) => (unix_seconds(col(c)) - unix_seconds(col(c)) % len).as("b")
      val name = s"ingest.${n}_rollup_sums"
      val want = sums(kept.where(col("ts") < lit(ts(maintainedUntil - maintainedUntil % len)))
        .groupBy(col("stream_id"), bucket("ts")).agg(count(lit(1)), sum(dec("value"))), 2)
      ctx.checkRun(name, want.nonEmpty && sameSums(name,
        sums(ds.rollup(g).where(col("stream_id").isin(sourceIds: _*))
          .select(col("stream_id"), bucket("bucket_start"), col("cnt"), col("vsum")), 2), want))
    }
    // the folded vectors are in the index: an exhaustive probe of a copy
    // of each sampled vector finds the original first
    val sample = appended.take(3).zipWithIndex.map { case ((id, v), j) => (-1L - j, v) -> id }
    val top = indexQuery(sample.map(_._1).toSeq, 1, IndexCells)
      .map(r => r.getAs[Long]("query_vec_id") -> r.getAs[Long]("vec_id")).toMap
    ctx.checkRun("ingest.index_fold",
      sample.forall { case ((q, _), id) => top.get(q).contains(id) })
  }
}

/** Read-only serving on a warehouse built from small commits and
  * downsampled: a seeded mix of raw, rollup, paginated, tag-selected,
  * matrix and nearest-neighbour reads, each collected on the driver.
  */
final class Query(ctx: Ctx) extends Workload(ctx) {
  import Traffic._
  import spark.implicits._
  /** The fixture: one day of traffic in 6 commits. */
  val Commits = 6
  val CommitLen: Long = 4 * 3600L
  val End: Long = Epoch + Commits * CommitLen
  val Knn = 10
  val NProbe = 4

  val points = mutable.ArrayBuffer.empty[Point]
  var corpus: Seq[(Long, Array[Float])] = Nil
  lazy val byStream: Map[String, Array[Point]] =
    points.groupBy(_.stream).map { case (s, ps) => s -> ps.sortBy(_.ts).toArray }

  /** A read whose result is checked after the loop. */
  final case class Call(op: Int, cls: String, stream: String, lo: Long, hi: Long,
                        arg: Any, rows: Array[Row])
  val calls = mutable.ArrayBuffer.empty[Call]

  /** Reads per cycle by class. Every cycle issues the same multiset in a
    * seeded order, so the mix does not vary between seeds or runs. The
    * weights are a choice (no recorded source gives a read mix): every
    * class is sampled in every cycle, and the cheap raw read of recent
    * data, what a monitoring dashboard polls, is the most frequent.
    */
  val mix: Seq[(String, Int)] = Seq(
    "raw_recent" -> 3, "minutes_long" -> 1, "hours_long" -> 1, "reverse_page" -> 1,
    "find_streams" -> 1, "streams_window" -> 1, "matrix" -> 1, "knn" -> 1)
  val heavy = Set("minutes_long", "hours_long", "streams_window", "matrix")

  def hotStream(): Sensor = {
    // Zipf-weighted pick: hot streams are read most
    var u = traffic.rng.nextDouble()
    traffic.hottest.find { s => u -= s.weight; u <= 0 }.getOrElse(traffic.hottest.head)
  }

  def setup(): Unit = {
    ensure(traffic.sourceMetas)
    (0 until Commits).foreach { c =>
      val pts = traffic.window(Epoch + c * CommitLen, CommitLen, IdleShare, 0.0)
      points ++= pts
      appendAll(pts)
    }
    downsample(End)
    corpus = buildIndex(1000)
    // warm-up: one whole cycle before timing starts, so the timed phase
    // does not carry the first calls' class loading and JIT compilation
    cycle(-1)
    calls.clear()
  }

  def cycle(i: Int): Unit =
    traffic.rng.shuffle(mix.flatMap { case (cls, n) => Seq.fill(n)(cls) }).foreach(issue)

  def issue(cls: String): Unit = {
    val id = ctx.nextOpId
    val group = if (heavy(cls)) "heavy" else "op"
    val r = traffic.rng
    /** Hour-aligned start of a window of `len` seconds inside the fixture. */
    def at(len: Long): Long = Epoch + r.nextInt(((End - Epoch - len) / 3600).toInt + 1) * 3600L
    def rec(s: String, lo: Long, hi: Long, arg: Any)(rows: => Array[Row]): Unit =
      ctx.op(cls, group)(rows).foreach(rs => calls += Call(id, cls, s, lo, hi, arg, rs))
    val s = hotStream().id
    cls match {
      case "raw_recent" =>
        val hi = End - r.nextInt(3600)
        val lo = hi - 3600
        rec(s, lo, hi, ())(read(ds.getData(s, Granularity.Seconds, Some(ts(lo)), Some(ts(hi)))))
      case "minutes_long" | "hours_long" =>
        val (g, len) = if (cls == "minutes_long") (Granularity.Minutes, Day / 2) else (Granularity.Hours, Day)
        val lo = at(len)
        rec(s, lo, lo + len - 1, g.durationSeconds)(read(ds.getData(s, g, Some(ts(lo)), Some(ts(lo + len - 1)),
          valueDownsamplers = Some(Seq("sum", "count")), timeDownsamplers = Nil)))
      case "reverse_page" =>
        val off = r.nextInt(100)
        rec(s, 0, 0, off)(read(ds.getData(s, Granularity.Seconds, reverse = true,
          limit = Some(50), offset = off)))
      case "find_streams" =>
        val q = Map("kind" -> Kinds(r.nextInt(Kinds.size)), "site" -> s"s${r.nextInt(Sites)}")
        rec("", 0, 0, q)(tr.span("registry.find_streams")(ds.findStreams(q).select("stream_id").collect()))
      case "streams_window" =>
        val node = r.nextInt(40)
        val lo = at(6 * 3600L)
        rec(nodeTag(node), lo, lo + 6 * 3600L - 1, ())(read(
          ds.datapointsForStreams(Map("node" -> nodeTag(node)), Some(ts(lo)), Some(ts(lo + 6 * 3600L - 1)))
            .select("stream_id", "ts", "value")))
      case "matrix" =>
        val q = Map("kind" -> Kinds(r.nextInt(Kinds.size)), "site" -> s"s${r.nextInt(Sites)}")
        val lo = at(Day / 2)
        rec("", lo, lo + Day / 2 - 1, q)(read(ds.getDataMatrix(q, Granularity.Hours, ts(lo), ts(lo + Day / 2 - 1),
          downsampler = "sum")))
      case "knn" =>
        val qs = traffic.vectors(-1000L - id * 4L, 4)
        rec("", 0, 0, qs)(indexQuery(qs, Knn, NProbe))
    }
  }

  def verify(): Unit = {
    // bucket sums of the generated input, recomputed with plain Spark
    val input = expectedFrame(points.toSeq.map(_ -> 0L))
    def buckets(g: Long): Map[(String, Long), (Long, Double)] =
      input.groupBy(col("stream_id"), (unix_seconds(col("ts")) - unix_seconds(col("ts")) % g).as("b"))
        .agg(count(lit(1)), sum("value")).as[(String, Long, Long, Double)].collect()
        .map { case (s, b, n, v) => (s, b) -> (n, v) }.toMap
    val expected = Map(60L -> buckets(60), 3600L -> buckets(3600))
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))
    def rowsIn(s: String, lo: Long, hi: Long) =
      byStream.getOrElse(s, Array.empty[Point]).filter(p => p.ts >= lo && p.ts <= hi)
    def pts(rows: Array[Row]) = rows.map(r => (r.getAs[String]("stream_id"),
      r.getAs[Timestamp]("ts").getTime / 1000, r.getAs[Double]("value"))).toSeq
    val knnCalls = mutable.ArrayBuffer.empty[Call]
    calls.foreach { c =>
      val ok = c.cls match {
        case "raw_recent" =>
          pts(c.rows).sortBy(_._2) == rowsIn(c.stream, c.lo, c.hi).map(p => (p.stream, p.ts, p.value)).toSeq
        case "minutes_long" | "hours_long" =>
          val g = c.arg.asInstanceOf[Long]
          val want = expected(g).filter { case ((s, b), _) => s == c.stream && b >= c.lo && b <= c.hi }
          c.rows.length == want.size && c.rows.forall { r =>
            val b = r.getAs[Timestamp]("bucket_start").getTime / 1000
            want.get(c.stream -> b).exists { case (n, v) =>
              r.getAs[Long]("count") == n && close(r.getAs[Double]("sum"), v) }
          }
        case "reverse_page" =>
          val off = c.arg.asInstanceOf[Int]
          pts(c.rows).map(_._2) ==
            byStream.getOrElse(c.stream, Array.empty[Point]).map(_.ts).reverse.slice(off, off + 50).toSeq
        case "find_streams" =>
          val q = c.arg.asInstanceOf[Map[String, String]]
          c.rows.map(_.getString(0)).toSet ==
            traffic.sources.filter(s => q.forall { case (k, v) => s.tags.get(k).contains(v) }).map(_.id).toSet
        case "streams_window" =>
          val want = traffic.sources.filter(_.node == c.stream.drop(1).toInt)
            .flatMap(s => rowsIn(s.id, c.lo, c.hi)).map(p => (p.stream, p.ts, p.value))
          pts(c.rows).sorted == want.sorted
        case "matrix" =>
          val q = c.arg.asInstanceOf[Map[String, String]]
          val ids = traffic.sources.filter(s => q.forall { case (k, v) => s.tags.get(k).contains(v) }).map(_.id).toSet
          val want = expected(3600L).filter { case ((s, b), _) => ids(s) && b >= c.lo && b <= c.hi }
          val cells = c.rows.flatMap { r =>
            r.schema.fieldNames.filter(ids).flatMap(f => Option(r.getAs[Any](f)).map(_.toString.toDouble)) }
          cells.length == want.size && close(cells.sum, want.values.map(_._2).sum)
        case "knn" =>
          knnCalls += c
          true
      }
      ctx.checkOp(c.op, ok, s"${c.cls} result differs from the recomputation")
    }
    knnCalls.take(4).foreach { c =>
      val r = recall(corpus, c.arg.asInstanceOf[Seq[(Long, Array[Float])]], c.rows.toSeq, Knn)
      ctx.checkOp(c.op, r >= 0.8, f"knn recall $r%.2f below 0.8")
    }
  }
}
