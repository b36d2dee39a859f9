package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** A read of at most one file-open's worth of input runs in one task, and
  * a kNN query set of at most 512 queries and 16384 vector elements is
  * probed on the driver; larger inputs keep the parallel plan. Both plans must give the same answers:
  * each read here runs small, then again with
  * `spark.sql.files.openCostInBytes` at 1 byte (every input is larger) or,
  * for kNN, inside a query set of 1100 rows.
  */
class SmallReadSpec extends SparkSpec {
  import spark.implicits._

  /** `body` with every input larger than one file-open. */
  private def large[A](body: => A): A = {
    val key = "spark.sql.files.openCostInBytes"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Whether `df` plans a shuffle (a broadcast is not one). */
  private def shuffles(df: DataFrame): Boolean =
    """(^|[^A-Za-z])Exchange """.r
      .findFirstIn(df.queryExecution.executedPlan.toString).nonEmpty

  /** `read` gives the same rows on both paths: in the same order, or as
    * the same multiset where the read defines no order.
    */
  private def samePaths(read: => DataFrame, ordered: Boolean = true): Unit = {
    val small = read
    assert(!shuffles(small), small.queryExecution.executedPlan)
    val got = small.collect().toSeq
    val want = large {
      val big = read
      assert(shuffles(big), big.queryExecution.executedPlan)
      big.collect().toSeq
    }
    assert(got.nonEmpty)
    if (ordered) assert(got == want)
    else assert(got.map(_.toString).sorted == want.map(_.toString).sorted)
  }

  private val t0 = ts("2024-01-01T00:00:00Z").getTime

  private def at(s: Long) = new java.sql.Timestamp(t0 + s * 1000L)

  /** Streams `a` and `b` tagged site=x, `b` also team=red, and `d` the
    * derivative of `a`: two commits of points every 10 s over 30 minutes,
    * derived and downsampled. Returns the facade and the first commit's
    * version.
    */
  private def warehouse(): (Datastream, Long) = {
    val ds = new Datastream(spark, Files.createTempDirectory("graft-small").toString)
    ds.ensureStream("a", Map("site" -> "x"))
    ds.ensureStream("b", Map("site" -> "x", "team" -> "red"))
    ds.ensureStream("d", deriveOp = Some("derivative"), derivedFrom = Seq("a"))
    def points(lo: Int, hi: Int) = (lo until hi).flatMap { i =>
      Seq(("a", at(i * 10L), (i * i % 97).toDouble), ("b", at(i * 10L + 5), i * 1.5))
    }.toDF("stream_id", "ts", "value")
    ds.appendMultiple(points(0, 90))
    val first = ds.currentVersion.get
    ds.appendMultiple(points(90, 180))
    ds.updateDerivedStreams()
    ds.downsampleStreams(ts("2024-01-02T00:00:00Z"))
    (ds, first)
  }

  test("raw reads: the one-task sort gives the parallel sort's rows in order") {
    val (ds, first) = warehouse()
    val (lo, hi) = (Some(at(300)), Some(at(1200)))
    samePaths(ds.getData("a", Granularity.Seconds, lo, hi))
    samePaths(ds.getData("a", Granularity.Seconds, lo, hi, reverse = true))
    samePaths(ds.getData("b", Granularity.Seconds, lo, hi,
      startExclusive = true, endExclusive = true))
    samePaths(ds.getData("a", Granularity.Seconds, asOfVersion = Some(first)))
    samePaths(ds.getData("d", Granularity.Seconds, reverse = true))
    samePaths(ds.getData("a", Granularity.Seconds, offset = 7))
    assert(ds.deleteDatapoints(Map("team" -> "red"), at(400), at(800)) > 0)
    samePaths(ds.getData("b", Granularity.Seconds))
  }

  test("rollup reads and the matrix: one-task plans give the parallel plans' answers") {
    val (ds, _) = warehouse()
    samePaths(ds.getData("a", Granularity.Minutes))
    samePaths(ds.getData("b", Granularity.Minutes, Some(at(300)), Some(at(1500)),
      reverse = true, valueDownsamplers = Some(Seq("sum", "count")), timeDownsamplers = Nil))
    // a pivot defines no row order
    samePaths(ds.getDataMatrix(Map("site" -> "x"), Granularity.Minutes,
      at(0), at(1800), downsampler = "sum"), ordered = false)
  }

  private val rnd = new scala.util.Random(29)

  private def vectors(lo: Int, hi: Int): DataFrame =
    (lo until hi).map(i => (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")

  private val fillers = vectors(100000, 101098)

  /** `query` over a small query set gives, row for row, what the Spark
    * probe path gives for the same queries inside a set of 1100.
    */
  private def sameKnn(queries: DataFrame)(query: DataFrame => DataFrame): Seq[Row] = {
    def rows(df: DataFrame) = df.select("query_vec_id", "vec_id", "cosine", "rank")
      .collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(3)))
    val small = query(queries)
    assert(!shuffles(small), small.queryExecution.executedPlan)
    val big = query(queries.unionByName(fillers))
    assert(shuffles(big), big.queryExecution.executedPlan)
    val ids = queries.select("vec_id").as[Long].collect().toSeq
    val got = rows(small)
    assert(got.nonEmpty)
    assert(got == rows(big.where(col("query_vec_id").isin(ids: _*))))
    got
  }

  test("kNN: driver-side probes give the Spark probe path's answers") {
    val corpus = vectors(0, 300)
    val queries = corpus.where(col("vec_id") < 3)
    val dir = Files.createTempDirectory("graft-small-knn").toString
    ext.Ivf.buildIndex(corpus.where(col("vec_id") < 200), dir, nCells = 16)
    sameKnn(queries)(ext.Ivf.queryIndex(dir, _, k = 5, nProbe = 4))
    // an appended chain of three shards, read now and pinned to its first
    ext.Ivf.appendToIndex(corpus.where(col("vec_id") >= 200 && col("vec_id") < 250), dir)
    ext.Ivf.appendToIndex(corpus.where(col("vec_id") >= 250), dir)
    sameKnn(queries)(ext.Ivf.queryIndex(dir, _, k = 5, nProbe = 4))
    sameKnn(queries)(ext.Ivf.queryIndex(dir, _, k = 5, nProbe = 4, asOfVersion = Some(1L)))
    // exhaustive probing is bit-identical to brute force
    val exhaustive = sameKnn(queries)(ext.Ivf.queryIndex(dir, _, k = 5, nProbe = 16))
    val brute = ext.Similarity.topK(corpus.withColumn("label", lit(0)),
        queries.withColumn("label", lit(0)), k = 5)
      .select("query_vec_id", "vec_id", "cosine", "rank")
      .collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(3)))
    assert(exhaustive == brute)
    // an id filter, then takedowns
    val allowed = corpus.where(col("vec_id") % 2 === 0)
    sameKnn(queries)(ext.Ivf.queryIndex(dir, _, k = 5, nProbe = 16, allowedIds = Some(allowed)))
    val taken = exhaustive.map(_.getLong(1)).distinct.take(4)
    assert(ext.Ivf.removeFromIndex(dir, taken.toDF("vec_id")) == taken.size)
    val afterTakedown = sameKnn(queries)(ext.Ivf.queryIndex(dir, _, k = 5, nProbe = 16))
    assert(afterTakedown.forall(r => !taken.contains(r.getLong(1))))
  }

  test("kNN: a query set that repeats an id keeps its duplicated answer") {
    val corpus = vectors(0, 100)
    val dir = Files.createTempDirectory("graft-small-knn-dup").toString
    ext.Ivf.buildIndex(corpus, dir, nCells = 4)
    val q = corpus.where(col("vec_id") === 0)
    val got = ext.Ivf.queryIndex(dir, q.unionByName(q), k = 3, nProbe = 4)
      .select("query_vec_id", "vec_id", "cosine", "rank").collect().toSeq
      .sortBy(_.getLong(3))
    // each candidate pairs with both copies of the query's probes and both
    // copies of its vector: the best match fills every rank
    val best = ext.Ivf.queryIndex(dir, q, k = 1, nProbe = 4)
      .select("query_vec_id", "vec_id", "cosine").collect().head
    assert(got == (1L to 3L).map(r => Row(best.getLong(0), best.getLong(1), best.getDouble(2), r)))
  }

  test("kNN: a query set past the driver's element budget is probed by Spark") {
    val corpus = (0 until 40).map(i => (i.toLong, Seq.fill(8193)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft-small-knn-wide").toString
    ext.Ivf.buildIndex(corpus, dir, nCells = 4)
    def knn(q: DataFrame) = ext.Ivf.queryIndex(dir, q, k = 3, nProbe = 2)
    def broadcasts(df: DataFrame) =
      df.queryExecution.executedPlan.toString.contains("BroadcastExchange")
    def rows(df: DataFrame) = df.select("query_vec_id", "vec_id", "cosine", "rank")
      .collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(3)))
    // one query's 8193 elements fit the budget of 16384; two do not
    val one = knn(corpus.where(col("vec_id") === 0))
    val two = knn(corpus.where(col("vec_id") < 2))
    assert(!broadcasts(one), one.queryExecution.executedPlan)
    assert(broadcasts(two), two.queryExecution.executedPlan)
    val got = rows(one)
    assert(got.nonEmpty)
    assert(got == rows(two.where(col("query_vec_id") === 0)))
  }
}
