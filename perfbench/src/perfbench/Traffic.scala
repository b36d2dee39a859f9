package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import graft.{Downsamplers, StreamMeta}

/** One generated datapoint: stream, epoch seconds, value. */
final case class Point(stream: String, ts: Long, value: Double) {
  def timestamp: Timestamp = new Timestamp(ts * 1000L)
}

/** A source stream of the sensor network: one sensor of one node. `weight`
  * is its share of the traffic (Zipf over a seeded rank order).
  */
final case class Sensor(id: String, node: Int, kind: String, site: Int, weight: Double) {
  def tags: Map[String, String] =
    Map("node" -> Traffic.nodeTag(node), "kind" -> kind, "site" -> s"s$site")
}

/** Seeded traffic of a sensor network: `nodes` nodes with one stream per
  * sensor kind, Zipf-skewed rates around one point per stream every few
  * minutes, whole-node quiet periods and a share of late rows. Every input
  * the benchmark feeds the engine comes from here.
  */
final class Traffic(seed: Long, nodes: Int = 40) {
  import Traffic._
  val rng = new scala.util.Random(seed)

  val sources: IndexedSeq[Sensor] = {
    val ids = for (n <- 0 until nodes; k <- Kinds) yield (n, k)
    val ranks = rng.shuffle(ids.indices.toVector)
    val raw = ranks.map(r => 1.0 / math.pow(r + 1, ZipfExponent))
    val total = raw.sum
    ids.zip(raw).map { case ((n, k), w) =>
      Sensor(s"${nodeTag(n)}.$k", n, k, n % Sites, w / total)
    }
  }

  /** Streams in falling traffic order: the hot set of the read mix. */
  val hottest: IndexedSeq[Sensor] = sources.sortBy(-_.weight)

  def sourceMetas: Seq[StreamMeta] = sources.map(s => meta(s.id, s.tags))

  private val counters = mutable.Map.empty[String, Double]

  /** One ingest window `[start, start + len)` in epoch seconds: one point
    * per stream per `MeanIntervalS` on average, spread by the Zipf weights,
    * none from quiet nodes, a `lateShare` of them shifted one window back
    * in event time. Timestamps are distinct per stream.
    */
  def window(start: Long, len: Long, idleShare: Double, lateShare: Double): Seq[Point] = {
    val rows = sources.size * len.toDouble / MeanIntervalS
    val idle = (0 until nodes).filter(_ => rng.nextDouble() < idleShare).toSet
    val out = mutable.ArrayBuffer.empty[Point]
    sources.foreach { s =>
      val n = math.min(poisson(rows * s.weight), len.toInt)
      if (!idle(s.node) && n > 0) {
        val secs = mutable.TreeSet.empty[Long]
        while (secs.size < n) secs += start + (rng.nextDouble() * len).toLong
        secs.foreach { t =>
          val late = rng.nextDouble() < lateShare
          out += Point(s.id, if (late) t - len else t, value(s))
        }
      }
    }
    out.toSeq
  }

  /** Sensor reading of the kind, rounded to 1/100 so decimal sums are
    * exact. Energy streams are monotone counters.
    */
  def value(s: Sensor): Double = {
    val v = s.kind match {
      case "energy" =>
        val c = counters.getOrElse(s.id, 1000.0 * s.node) + rng.nextInt(50)
        counters(s.id) = c
        c
      case "temp" => 21 + 4 * rng.nextGaussian()
      case "hum" => 45 + 10 * rng.nextGaussian()
      case "power" => 300 + 80 * rng.nextGaussian()
      case "light" => 400 * rng.nextDouble()
      case _ => 420 + 30 * rng.nextGaussian()
    }
    math.round(v * 100) / 100.0
  }

  def poisson(mean: Double): Int =
    if (mean <= 0) 0
    else if (mean > 30) math.max(0, math.round(mean + math.sqrt(mean) * rng.nextGaussian()).toInt)
    else {
      val l = math.exp(-mean)
      var k = 0
      var p = rng.nextDouble()
      while (p > l) { k += 1; p *= rng.nextDouble() }
      k
    }

  /** `n` vectors of `dim` floats around `clusters` seeded centres, ids from
    * `firstId`: the embedding traffic of the IVF index.
    */
  def vectors(firstId: Long, n: Int, dim: Int = VecDim): Seq[(Long, Array[Float])] = {
    (0 until n).map { i =>
      val c = centres(rng.nextInt(centres.length))
      (firstId + i, c.map(x => (x + 0.15 * rng.nextGaussian()).toFloat))
    }
  }

  private lazy val centres: IndexedSeq[Array[Double]] = {
    val r = new scala.util.Random(seed ^ 0x5eedL)
    (0 until VecClusters).map(_ => Array.fill(VecDim)(r.nextGaussian()))
  }
}

object Traffic {
  val Kinds: Seq[String] = Seq("temp", "hum", "power", "energy", "light", "co2")
  val Sites = 4
  /** Mean interval between two points of one stream, in seconds. The
    * engine's reference was sized for nodewatcher, with one datapoint per
    * stream every few minutes (SURVEY.md section 6); "a few" is taken as 3.
    */
  val MeanIntervalS = 180.0
  /** Skew of the per-stream rates. A choice: at 0.5 over 240 streams the
    * median stream reports every 4 minutes and the coldest every 6, still
    * "every few minutes", while the hottest reports every 22 seconds.
    */
  val ZipfExponent = 0.5
  /** Share of nodes quiet in a window, and share of rows one window late.
    * Both are choices; no recorded source gives them.
    */
  val IdleShare = 0.15
  val LateShare = 0.03
  val VecDim = 32
  val VecClusters = 16
  /** 2024-01-01T00:00:00Z, a midnight: the workloads' event times are
    * laid out around it.
    */
  val Epoch = 1704067200L
  val Day = 86400L

  def nodeTag(n: Int): String = f"n$n%02d"

  def meta(id: String, tags: Map[String, String], deriveOp: Option[String] = None,
           derivedFrom: Seq[String] = Nil): StreamMeta =
    StreamMeta(id, tags, "numeric", Downsamplers.allValue.toSeq.sorted,
      Seq(Downsamplers.TimeFirst, Downsamplers.TimeLast), "seconds",
      derive_op = deriveOp, derived_from = derivedFrom)

  def ts(sec: Long): Timestamp = new Timestamp(sec * 1000L)
}
