package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.{Derive, Downsample, Granularity}

/** Per-layer numbers of a traced run. A probe after the checks calls every
  * layer a workload's own loop left out, so each traced run reports every
  * layer; then the spans, the Spark jobs and a walk of the warehouse and
  * index directories are reduced to the per-layer metrics.
  */
object Layers {
  import Traffic._

  val Verbs: Seq[String] =
    Seq("ensure", "append", "downsample", "derive_refresh", "upsert", "delete", "compact")

  /** Calls into the layers the workload did not reach itself, plus the
    * fixed per-layer measurements. Returns the (name, value, unit) rows the
    * probe measures directly.
    */
  def probe(w: Workload): Seq[(String, Double, String)] = {
    val tr = w.tr
    val ds = w.ds
    val spark = w.spark
    import spark.implicits._
    def called(name: String) = tr.spans.exists(_.name == name)
    // the hottest stream no derived stream reads, so a takedown is allowed
    val hot = w.traffic.hottest.find(s => s.kind != "power" && s.kind != "energy").get
    val latest = tr.op("probe.latest")(ds.rawDatapoints.agg(max("ts")).first().getTimestamp(0).getTime / 1000)
    val dayStart = latest - latest % Day

    tr.op("probe") {
      if (!called("verb.derive_refresh"))
        w.verb("derive_refresh")(ds.updateDerivedStreamsIncremental(ts(dayStart)))
      if (!called("verb.upsert")) {
        val same = ds.rawDatapoints.where(col("stream_id") === hot.id)
          .select("stream_id", "ts", "value").limit(5)
        w.verb("upsert")(ds.upsertDatapoints(same.collect().toSeq
          .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2))).toDF("stream_id", "ts", "value")))
      }
      if (!called("verb.delete"))
        w.verb("delete")(ds.deleteDatapoints(hot.tags, ts(dayStart), ts(dayStart + 600)))
      if (!called("verb.compact")) w.verb("compact")(ds.compact())
      if (w.indexBatches == 0) w.buildIndex(500)
      if (!called("index.append"))
        (0 until 2).foreach(i => w.indexAppend(w.traffic.vectors(5000000L + i * 100, 100)))
      if (!called("index.query"))
        (0 until 2).foreach(i => w.indexQuery(w.traffic.vectors(-5000000L - i * 4, 4), 10, 4))
      (0 until 5).foreach { _ =>
        tr.span("commit.current_version")(ds.currentVersion)
        tr.span("commit.history")(ds.history)
        tr.span("registry.find_streams")(ds.findStreams(Map("kind" -> "temp")).collect())
      }
    }

    // file pruning of a one-day raw read of the hottest stream
    val planned = (0 until 3).map { _ =>
      tr.op("probe.read") {
        w.read(ds.getData(hot.id, Granularity.Seconds, Some(ts(dayStart - Day)), Some(ts(dayStart))))
      }
      tr.op("probe.files")(ds.getData(hot.id, Granularity.Seconds, Some(ts(dayStart - Day)),
        Some(ts(dayStart))).inputFiles.length.toDouble)
    }
    val live = tr.op("probe.files")(ds.rawDatapoints.inputFiles.length.toDouble)

    // kernels on a fixed frame (seed 7, independent of the run's seed):
    // 4 h of traffic, about 19k rows
    val kt = new Traffic(7L)
    val kframe = kt.window(Epoch, 4 * 3600L, 0.0, 0.0).zipWithIndex
      .map { case (p, i) => (p.stream, p.timestamp, p.value, i.toLong) }
      .toDF("stream_id", "ts", "value", "event_id").cache()
    tr.op("probe.kernel_input")(kframe.count())
    (0 until 3).foreach { _ =>
      tr.op("probe.kernel") {
        tr.span("kernel.cascade")(Downsample.cascadeTo(kframe, Granularity.Days).collect())
        tr.span("kernel.counter_derivative")(
          Derive.counterDerivative(kframe.where(col("stream_id").endsWith(".energy")), None).collect())
      }
    }
    kframe.unpersist()

    // tracing cost: pairs of untraced and traced copies of one read, after
    // a discarded first read, alternating which copy runs first
    def once(): Double = {
      val t0 = System.nanoTime()
      w.read(ds.getData(hot.id, Granularity.Minutes, Some(ts(dayStart - Day)), Some(ts(dayStart))))
      (System.nanoTime() - t0) / 1e9
    }
    tr.untraced(once())
    val overhead = (0 until 6).map { i =>
      def off() = tr.untraced(once())
      def on() = tr.op("probe.calibrate")(once())
      if (i % 2 == 0) { val a = off(); on() - a }
      else { val b = on(); b - off() }
    }
    // the known empty micro-batch defect, kept visible: 1 while the engine
    // throws on an empty appendBatch, 0 once it commits nothing instead.
    // Run last because a failed append may leave an intent marker behind.
    val emptyFails = scala.util.Try(tr.op("probe.empty_batch") {
      val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        ds.rawDatapoints.select("stream_id", "ts", "value").schema)
      ds.appendBatch(empty, Long.MaxValue - 1)
    }).isFailure
    Seq(
      ("verb.append.empty_batch_fails", if (emptyFails) 1.0 else 0.0, "count"),
      ("read.files_planned", Stats.median(planned), "count"),
      ("read.files_live", live, "count"),
      ("read.file_skip_ratio", if (live > 0) 1 - Stats.median(planned) / live else 0.0, "ratio"),
      ("trace.overhead_s", Stats.median(overhead), "s"))
  }

  /** Every file under `dir` with its size. */
  def walk(dir: File): Seq[(File, Long)] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) walk(f) else Seq(f -> f.length())
    }

  /** Reduce spans, jobs and a walk of the directories to the per-layer
    * metrics. `timed` is the [start, end] of the timed phase in epoch ms.
    */
  def metrics(w: Workload, probed: Seq[(String, Double, String)],
              timed: (Double, Double)): Seq[(String, Double, String)] = {
    val tr = w.tr
    tr.drain()
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    def add(n: String, v: Double, u: String): Unit = out += ((n, v, u))
    def named(n: String) = tr.spans.toSeq.filter(_.name == n)
    def med(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    def cpu(s: Span) = tr.jobsOf(s).map(_.cpuNs).sum / 1e9

    val jobs = tr.allJobs.filter(j => j.start >= timed._1 && j.start <= timed._2)
    add("spark.jobs", jobs.size, "count")
    add("spark.stages", jobs.map(_.stages).sum, "count")
    add("spark.tasks", jobs.map(_.tasks).sum, "count")
    add("spark.task_cpu_s", jobs.map(_.cpuNs).sum / 1e9, "s")
    add("spark.shuffle_write_bytes", jobs.map(_.shuffleWriteBytes).sum, "bytes")
    add("spark.unattributed_jobs", tr.allJobs.count(_.span == 0), "count")

    Verbs.foreach { v =>
      val ss = named(s"verb.$v")
      add(s"verb.$v.wall_s", med(ss.map(_.ms / 1e3)), "s")
      add(s"verb.$v.jobs", med(ss.map(tr.jobsOf(_).size.toDouble)), "count")
      add(s"verb.$v.task_cpu_s", med(ss.map(cpu)), "s")
      add(s"verb.$v.driver_gap_s", med(ss.map(tr.driverGapMs(_) / 1e3)), "s")
    }

    val reads = named("read")
    add("read.calls", reads.size, "count")
    add("read.wall_s", med(reads.map(_.ms / 1e3)), "s")
    add("read.plan_s", med(named("read.plan").map(_.ms / 1e3)), "s")
    add("read.jobs", med(reads.map(tr.jobsOf(_).size.toDouble)), "count")
    add("read.driver_gap_s", med(reads.map(tr.driverGapMs(_) / 1e3)), "s")
    probed.filter(p => p._1.startsWith("read.") || p._1.startsWith("verb.")).foreach(out += _)
    add("registry.find_streams_s", med(named("registry.find_streams").map(_.ms / 1e3)), "s")

    add("commit.current_version_s", med(named("commit.current_version").map(_.ms / 1e3)), "s")
    add("commit.history_s", med(named("commit.history").map(_.ms / 1e3)), "s")
    val wh = walk(new File(w.warehouse))
    val rel = (f: File) => new File(w.warehouse).toURI.relativize(f.toURI).getPath
    add("commit.log_files", wh.count(f => rel(f._1).startsWith("commitlog/")), "count")
    add("commit.versions_retained", w.ds.snapshotVersions.size, "count")

    add("kernel.cascade_s", med(named("kernel.cascade").map(_.ms / 1e3)), "s")
    add("kernel.counter_derivative_s", med(named("kernel.counter_derivative").map(_.ms / 1e3)), "s")

    val data = wh.filter { case (f, _) =>
      f.getName.endsWith(".parquet") &&
        Seq("raw/", "rollup/", "derived/").exists(rel(f).startsWith)
    }
    val partitions = data.map(_._1.getParentFile.getPath).distinct.size
    add("storage.bytes_per_user_byte", wh.map(_._2).sum.toDouble / math.max(1L, w.pointsWritten * 24L), "ratio")
    add("storage.data_files", data.size, "count")
    add("storage.files_per_partition", data.size.toDouble / math.max(1, partitions), "count")

    add("index.append_s", med(named("index.append").map(_.ms / 1e3)), "s")
    add("index.append_jobs", med(named("index.append").map(tr.jobsOf(_).size.toDouble)), "count")
    add("index.query_s", med(named("index.query").map(_.ms / 1e3)), "s")
    // committed index versions: one CURRENT.v<N> marker each
    add("index.versions", Option(new File(w.indexPath).list()).toSeq.flatten
      .count(_.matches("CURRENT\\.v\\d+")), "count")
    add("index.files", walk(new File(w.indexPath)).size, "count")

    val ops = tr.spans.toSeq.filter(_.name.startsWith("op."))
    add("trace.op_self_s", med(ops.map(tr.selfMs(_) / 1e3)), "s")
    add("trace.spans", tr.spans.size, "count")
    probed.filter(_._1.startsWith("trace.")).foreach(out += _)
    out.toSeq
  }
}
