package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spark jobs launched by warm read-path calls. Stream metadata comes from
  * the in-memory registry generation and IVF centroids from the memoized
  * centroid table, so neither may cost a job once loaded, and a read of
  * at most one file-open's worth of input runs as one job with no
  * exchange: a regression fails here instead of surfacing as a slower
  * benchmark.
  */
class JobBudgetSpec extends SparkSpec {

  /** What `body` launched: the long call site of every job (the final
    * stage's details, one stack frame per line) and the physical plan of
    * every SQL execution.
    */
  private def launched(body: => Unit): (Seq[String], Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"job-budget-${System.nanoTime()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.add(e.stageInfos.map(_.details).mkString("\n"))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    GraftBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job budget")
    try {
      body
      GraftBridge.drainListenerBus(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    (jobs.asScala.toSeq, plans.asScala.toSeq)
  }

  private def warehouse(): Datastream = {
    val ds = new Datastream(spark, Files.createTempDirectory("graft-budget").toString)
    ds.ensureStream("s1", Map("site" -> "a"))
    ds.ensureStream("s2", Map("site" -> "b"))
    ds.appendMultiple(dp(Seq(
      ("s1", "2024-01-01T00:00:00Z", 1.0), ("s1", "2024-01-01T00:30:00Z", 2.0),
      ("s2", "2024-01-01T00:10:00Z", 3.0))).select("stream_id", "ts", "value"))
    ds
  }

  test("warm streamMeta and findStreams launch no Spark job") {
    val ds = warehouse()
    ds.streamMeta("s1")
    val (jobs, _) = launched {
      assert(ds.streamMeta("s1").tags == Map("site" -> "a"))
      assert(ds.findStreams(Map("site" -> "b")).collect()
        .map(_.getAs[String]("stream_id")).toSeq == Seq("s2"))
    }
    assert(jobs.isEmpty, jobs.mkString("\n----\n"))
  }

  test("a warm raw getData launches no job from the registry") {
    val ds = warehouse()
    def read() = ds.getData("s1", Granularity.Seconds,
      Some(ts("2024-01-01T00:00:00Z")), Some(ts("2024-01-01T01:00:00Z"))).collect()
    read()
    val (jobs, _) = launched(assert(read().length == 2))
    assert(jobs.nonEmpty) // the data read itself runs
    val registryFrames = Seq("graft.Datastream.streams(",
      "graft.Datastream.streamMeta(", "graft.Datastream.registry(")
    val fromRegistry = jobs.filter(j => registryFrames.exists(j.contains))
    assert(fromRegistry.isEmpty, fromRegistry.mkString("\n----\n"))
  }

  test("Ivf.queryIndex on a warm version reads no centroid table") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-budget-ivf").toString
    val rnd = new scala.util.Random(7)
    val corpus = (0 until 64).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    ext.Ivf.buildIndex(corpus, dir, nCells = 4)
    val queries = corpus.where($"vec_id" < 2)
    ext.Ivf.queryIndex(dir, queries, k = 3, nProbe = 2).collect()
    def centroidReads(plans: Seq[String]) =
      plans.filter(p => p.contains(dir) && p.contains("/centroids"))
    // the probe sees a centroid read where there is one
    val (_, direct) = launched(
      spark.read.parquet(s"${ext.Ivf.indexDir(spark, dir)}/centroids").collect())
    assert(centroidReads(direct).nonEmpty)
    val (_, plans) = launched(
      assert(ext.Ivf.queryIndex(dir, queries, k = 3, nProbe = 2).count() == 6))
    assert(centroidReads(plans).isEmpty, centroidReads(plans).mkString("\n----\n"))
  }

  /** `read`, run warm, launches exactly one job and plans no exchange. */
  private def oneJob(read: => Unit): Unit = {
    read
    val (jobs, plans) = launched(read)
    assert(jobs.size == 1, jobs.mkString("\n----\n"))
    assert(plans.nonEmpty)
    assert(plans.forall(!_.contains("Exchange")), plans.mkString("\n----\n"))
  }

  private def downsampled(): Datastream = {
    val ds = warehouse()
    ds.downsampleStreams(ts("2024-01-02T00:00:00Z"))
    ds
  }

  test("a warm small raw getData with no limit runs one job and no exchange") {
    val ds = warehouse()
    oneJob(assert(ds.getData("s1", Granularity.Seconds,
      Some(ts("2024-01-01T00:00:00Z")), Some(ts("2024-01-01T01:00:00Z"))).collect().length == 2))
  }

  test("a warm small rollup getData runs one job and no exchange") {
    val ds = downsampled()
    oneJob(assert(ds.getData("s1", Granularity.Minutes).collect().length == 2))
  }

  test("a warm small getDataMatrix runs one job and no exchange") {
    val ds = downsampled()
    oneJob(assert(ds.getDataMatrix(Map("site" -> "a"), Granularity.Minutes,
      ts("2024-01-01T00:00:00Z"), ts("2024-01-01T01:00:00Z")).collect().length == 2))
  }

  test("a warm Ivf.queryIndex of 2 queries runs one job with no exchange or broadcast") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-budget-knn").toString
    val rnd = new scala.util.Random(11)
    val corpus = (0 until 64).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    ext.Ivf.buildIndex(corpus, dir, nCells = 4)
    val queries = corpus.where($"vec_id" < 2)
    oneJob(assert(ext.Ivf.queryIndex(dir, queries, k = 3, nProbe = 2).collect().length == 6))
  }

  test("a raw read larger than one file-open keeps its range sort") {
    val ds = warehouse()
    def read() = ds.getData("s1", Granularity.Seconds).collect()
    val key = "spark.sql.files.openCostInBytes"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try {
      read()
      val (jobs, plans) = launched(assert(read().length == 2))
      assert(jobs.size > 1)
      assert(plans.exists(_.contains("rangepartitioning")), plans.mkString("\n----\n"))
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def batchAt(t: String) =
    dp(Seq(("s1", t, 1.0), ("s2", t, 2.0))).select("stream_id", "ts", "value")

  test("a warm appendBatch launches exactly the jobs of appendMultiple: the cursor costs none") {
    val plain = warehouse()
    val sink = warehouse()
    plain.appendMultiple(batchAt("2024-01-01T01:00:00Z"))
    sink.appendBatch(batchAt("2024-01-01T01:00:00Z"), 0L)
    val (plainJobs, _) = launched(plain.appendMultiple(batchAt("2024-01-01T02:00:00Z")))
    val (sinkJobs, _) = launched(sink.appendBatch(batchAt("2024-01-01T02:00:00Z"), 1L))
    assert(plainJobs.nonEmpty)
    assert(sinkJobs.size == plainJobs.size,
      sinkJobs.mkString("\n----\n") + "\n====\n" + plainJobs.mkString("\n----\n"))
  }

  test("a replayed appendBatch or upsertBatch id launches no job and commits nothing") {
    val ds = warehouse()
    ds.appendBatch(batchAt("2024-01-01T01:00:00Z"), 0L)
    ds.upsertBatch(batchAt("2024-01-01T01:00:00Z"), 0L)
    val v = ds.currentVersion
    val (jobs, _) = launched {
      ds.appendBatch(batchAt("2024-01-01T01:00:00Z"), 0L)
      ds.upsertBatch(batchAt("2024-01-01T01:00:00Z"), 0L)
    }
    assert(jobs.isEmpty, jobs.mkString("\n----\n"))
    assert(ds.currentVersion == v)
  }

  private def vectors(n: Int, seed: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
  }

  /** Every file and directory under `dir`. */
  private def tree(dir: String): Set[String] = {
    val walk = Files.walk(java.nio.file.Paths.get(dir))
    try walk.iterator().asScala.map(_.toString).toSet finally walk.close()
  }

  test("a replayed Ivf.appendBatchToIndex launches no job and creates no file") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-budget-fold").toString
    val corpus = vectors(64, 13)
    val (b0, b1) = (corpus.where($"vec_id" < 32), corpus.where($"vec_id" >= 32))
    ext.Ivf.appendBatchToIndex(b0, dir, 0L, nCells = 4)
    ext.Ivf.appendBatchToIndex(b1, dir, 1L)
    val files = tree(dir)
    val (jobs, _) = launched {
      ext.Ivf.appendBatchToIndex(b1, dir, 1L)
      ext.Ivf.appendBatchToIndex(b0, dir, 0L)
    }
    assert(jobs.isEmpty, jobs.mkString("\n----\n"))
    assert(tree(dir) == files)
  }

  test("a warm Ivf.appendBatchToIndex launches exactly the jobs of its " +
    "emptiness probe plus Ivf.appendToIndex") {
    import spark.implicits._
    val corpus = vectors(96, 17)
    val batch = (0 until 3).map(i => corpus.where($"vec_id" % 3 === i))
    val plain = Files.createTempDirectory("graft-budget-plain").toString
    val sink = Files.createTempDirectory("graft-budget-sink").toString
    ext.Ivf.buildIndex(batch(0), plain, nCells = 4)
    ext.Ivf.appendBatchToIndex(batch(0), sink, 0L, nCells = 4)
    ext.Ivf.appendToIndex(batch(1), plain)
    ext.Ivf.appendBatchToIndex(batch(1), sink, 1L)
    val (probeJobs, _) = launched(batch(2).isEmpty)
    val (plainJobs, _) = launched(ext.Ivf.appendToIndex(batch(2), plain))
    val (sinkJobs, _) = launched(ext.Ivf.appendBatchToIndex(batch(2), sink, 2L))
    assert(plainJobs.nonEmpty)
    assert(sinkJobs.size == probeJobs.size + plainJobs.size,
      sinkJobs.mkString("\n----\n") + "\n====\n" +
        (probeJobs ++ plainJobs).mkString("\n----\n"))
  }

  private def fourStreams(): Datastream = {
    val ds = new Datastream(spark, Files.createTempDirectory("graft-budget").toString)
    Seq("s1", "s2", "s3", "s4").foreach(s => ds.ensureStream(s, Map("id" -> s)))
    ds.ensureStream("d1", Map("id" -> "d1"),
      deriveOp = Some("derivative"), derivedFrom = Seq("s1"))
    ds.appendMultiple(dp(Seq("s1", "s2", "s3", "s4").flatMap(s => Seq(
      (s, "2024-01-01T00:00:10Z", 1.0), (s, "2024-01-01T00:01:10Z", 2.0),
      (s, "2024-01-02T00:00:10Z", 3.0)))).select("stream_id", "ts", "value"))
    ds.updateDerivedStreams()
    ds.downsampleStreams(ts("2024-01-03T00:00:00Z"))
    ds
  }

  /** Every job `body` launched, whichever thread launched it: a verb that
    * fans out on a shared pool whose threads predate the job group would
    * hide its jobs from [[launched]].
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    GraftBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      body
      GraftBridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    n.get()
  }

  test("a warm one-stream deleteStreams launches 9 jobs: one file scan, one write per table holding the stream") {
    val ds = fourStreams()
    assert(ds.deleteStreams(Map("id" -> "s4")) == 1L)
    // 1 `_metadata.file_path` scan, 7 rewrites (one per table whose files
    // hold s3; d1's derived files are not even candidates) and 1 registry
    // generation: no job per table to find the files, and none for the
    // dependency check, which runs on the driver over the registry rows
    val n = jobsDuring(assert(ds.deleteStreams(Map("id" -> "s3")) == 1L))
    assert(n == 9, s"$n jobs")
  }

  /** Source streams `s1`, `s2` (seconds), a derived `sum` and a derived
    * `counter_derivative` over them, a day of points downsampled and
    * refreshed, and the next day's points appended: the next maintenance
    * step to midnight has work at every ladder level and every op class.
    */
  private def maintained(): Datastream = {
    val ds = new Datastream(spark, Files.createTempDirectory("graft-budget").toString)
    ds.ensureStream("s1", Map("site" -> "a"))
    ds.ensureStream("s2", Map("site" -> "b"))
    ds.ensureStream("sum", Map("kind" -> "sum"),
      deriveOp = Some("sum"), derivedFrom = Seq("s1", "s2"))
    ds.ensureStream("rate", Map("kind" -> "rate"), deriveOp = Some("counter_derivative"),
      deriveArgs = Some("{\"max_value\": 1000}"), derivedFrom = Seq("s1"))
    def day(d: String) = dp(Seq("s1", "s2").flatMap(s => Seq(
      (s, s"${d}T00:00:10Z", 1.0), (s, s"${d}T06:30:00Z", 2.0),
      (s, s"${d}T23:59:50Z", 3.0)))).select("stream_id", "ts", "value")
    ds.appendMultiple(day("2024-01-01"))
    ds.downsampleStreams(ts("2024-01-02T00:00:00Z"))
    ds.updateDerivedStreamsIncremental(ts("2024-01-02T00:00:00Z"))
    ds.appendMultiple(day("2024-01-02"))
    ds
  }

  test("a warm 7-level downsampleStreams launches at most 5 jobs") {
    val ds = maintained()
    // before: 22, a write execution per level, each reading back the
    // level below it; now one routed aggregation and one write
    val (jobs, _) = launched {
      val produced = ds.downsampleStreams(ts("2024-01-03T00:00:00Z"))
      assert(produced.keySet == Granularity.ladder.toSet)
    }
    assert(jobs.size <= 5, jobs.mkString("\n----\n"))
  }

  test("a warm updateDerivedStreamsIncremental launches 13 jobs") {
    val ds = maintained()
    // before: 24 — the op-class stats, a second scan of the source slice
    // for the sidecar and a joined registry collect; now the slice is
    // checkpointed once, the sidecar advances in one aggregate, and the
    // stats and the registry update run on the driver
    val (jobs, _) = launched(ds.updateDerivedStreamsIncremental(ts("2024-01-03T00:00:00Z")))
    assert(jobs.size == 13, s"${jobs.size} jobs\n" + jobs.mkString("\n----\n"))
  }

  test("a warm appendMultiple launches 6 jobs") {
    val ds = maintained()
    // before: 9 — the per-stream bounds were a second aggregate joined to
    // the registry and collected; now they ride the validation job
    val (jobs, _) = launched(ds.appendMultiple(batchAt("2024-01-03T01:00:00Z")))
    assert(jobs.size == 6, s"${jobs.size} jobs\n" + jobs.mkString("\n----\n"))
  }

  /** Three seconds streams with three points a day on 2024-01-01 and
    * 2024-01-02, downsampled to 2024-01-03 and warmed by one upsert and
    * one copy-on-write delete: the next upsert or delete repairs finalized
    * buckets at every ladder level.
    */
  private def repairable(): Datastream = {
    val ds = new Datastream(spark, Files.createTempDirectory("graft-budget").toString)
    val ids = Seq("s1", "s2", "s3")
    ids.foreach(s => ds.ensureStream(s, Map("id" -> s)))
    ds.appendMultiple(dp(for {
      s <- ids; d <- Seq("2024-01-01", "2024-01-02"); t <- Seq("00:00:10", "06:30:00", "23:59:50")
    } yield (s, s"${d}T${t}Z", 1.0)).select("stream_id", "ts", "value"))
    ds.downsampleStreams(ts("2024-01-03T00:00:00Z"))
    ds.upsertDatapoints(dp(Seq(("s1", "2024-01-01T06:30:00Z", 4.0))).select("stream_id", "ts", "value"))
    ds.deleteDatapoints(Map("id" -> "s2"), ts("2024-01-01T06:00:00Z"),
      ts("2024-01-01T07:00:00Z"), DeleteMode.CopyOnWrite)
    ds
  }

  // before: 104, 102, 54 and 60 — the repair ran seven per-level arms,
  // each checkpointing its purged keys and re-aggregating the survivors;
  // now one purged-key checkpoint, one routed rollup and one write

  test("a warm replacing upsertDatapoints launches 26 jobs") {
    val ds = repairable()
    val n = jobsDuring(assert(ds.upsertDatapoints(dp(Seq(("s2", "2024-01-02T06:30:00Z", 5.0)))
      .select("stream_id", "ts", "value")) == 1L))
    assert(n == 26, s"$n jobs")
  }

  test("a warm gap-bucket upsertDatapoints launches 24 jobs") {
    val ds = repairable()
    val n = jobsDuring(assert(ds.upsertDatapoints(dp(Seq(("s3", "2024-01-01T12:00:00Z", 5.0)))
      .select("stream_id", "ts", "value")) == 0L))
    assert(n == 24, s"$n jobs")
  }

  test("a warm copy-on-write deleteDatapoints launches 10 jobs") {
    val ds = repairable()
    val n = jobsDuring(assert(ds.deleteDatapoints(Map("id" -> "s3"), ts("2024-01-02T06:00:00Z"),
      ts("2024-01-02T07:00:00Z"), DeleteMode.CopyOnWrite) == 1L))
    assert(n == 10, s"$n jobs")
  }

  test("a warm merge-on-read deleteDatapoints launches 10 jobs") {
    val ds = repairable()
    val n = jobsDuring(assert(ds.deleteDatapoints(Map("id" -> "s3"), ts("2024-01-02T06:00:00Z"),
      ts("2024-01-02T07:00:00Z"), DeleteMode.MergeOnRead) == 1L))
    assert(n == 10, s"$n jobs")
  }

  test("a warm Sq.appendToIndex launches 3 jobs: the params table is read with its schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-budget-sq").toString
    val corpus = vectors(96, 19)
    ext.Sq.buildIndex(corpus.where($"vec_id" < 32), dir)
    ext.Sq.appendToIndex(corpus.where($"vec_id" >= 32 && $"vec_id" < 64), dir)
    // the params head, its one-file copy and the codes write: an inferred
    // params schema would cost one more job at each of the first two
    val (jobs, _) = launched(ext.Sq.appendToIndex(corpus.where($"vec_id" >= 64), dir))
    assert(jobs.size == 3, jobs.mkString("\n----\n"))
  }
}
