package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // Local checkpoints: the default FileContext-based checkpoint manager
      // passes explicit permissions on every mkdir/create, and local Hadoop
      // without native IO implements that as a FORKED `chmod` per call —
      // serialized under StateStore's global provider lock, it stalled every
      // stateful streaming gate ~2x (measured: stream-stream join gate
      // 10.1s -> 4.7s warm). The FileSystem-based manager (rename-commit) is
      // exactly as safe for a SINGLE-WRITER local checkpoint dir; an HDFS
      // deployment with zombie-driver concerns keeps the FileContext default
      // — this is a per-deployment conf, overridable like any Spark conf.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Task-metric capture: executor CPU time is immune to ambient-load
    // contamination that inflates wall clock (a co-tenant process delays
    // scheduling but does not burn this JVM's task CPU), so the artifact
    // carries BOTH — a wall regression with flat CPU is contamination, a
    // CPU regression is real work added. Listener events are async; the
    // bus is drained on both sides of each timed region (GraftBridge).
    val taskRunMs = new java.util.concurrent.atomic.AtomicLong
    val taskCpuNs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          taskRunMs.addAndGet(m.executorRunTime)
          taskCpuNs.addAndGet(m.executorCpuTime)
          ()
        }
      }
    })
    def drain(): Unit = org.apache.spark.sql.GraftBridge
      .drainListenerBus(spark.sparkContext)
    // JVM/codegen warmup so the first timed query doesn't absorb ~4s of
    // session + JIT start-up (measured; data itself is not cached)
    spark.range(1000).selectExpr("sum(id)").collect()
    // optional comma-separated subset for local diagnosis (driver leaves unset)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // steady-state timing: run each query `runs` times and report the
    // MEDIAN of runs 2..n (the first run absorbs planning/codegen and is
    // always discarded when runs > 1). A median over repeated runs blunts
    // ambient-load contamination, which made two rounds of single-shot
    // driver artifacts unreproducible (3-7× inflation mid-run).
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val cpuSecs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val runSecs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val results = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        // a query that throws reports err and wall time -1 — a crash must
        // never masquerade as a fast run (and the bench exits non-zero)
        def once(): Option[(Double, Double, Double)] = {
          drain()
          val (cpu0, run0) = (taskCpuNs.get(), taskRunMs.get())
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).count()
            val wall = (System.nanoTime() - t0) / 1e9
            drain()
            Some((wall, (taskCpuNs.get() - cpu0) / 1e9,
              (taskRunMs.get() - run0) / 1e3))
          }
          catch { case e: Throwable =>
            errors.getOrElseUpdate(name,
              s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
            None
          }
        }
        val all = (0 until runs).map(_ => once())
        // drain storage BETWEEN queries: the lifecycle queries localCheckpoint
        // registry/purge snapshots that stay pinned until the ContextCleaner
        // gets to them; across 58 queries × runs the backlog inflates later
        // lifecycle queries 1.5-2× vs isolated runs (measured). After count()
        // nothing references them — unpersist is safe and makes the artifact
        // reproduce isolated timings.
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        spark.catalog.clearCache()
        // median run selected by wall time; its own CPU/run-time metrics
        // ride along so the three numbers describe the SAME execution
        val steady = (if (runs > 1) all.tail else all).flatten.sortBy(_._1)
        val t =
          if (steady.isEmpty || errors.contains(name)) -1.0
          else {
            val (wall, cpu, run) = steady(steady.size / 2)
            cpuSecs(name) = cpu
            runSecs(name) = run
            wall
          }
        name -> t
      }
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val errJson =
      if (errors.isEmpty) ""
      else ",\"errors\":" + errors
        .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val ok = results.collect { case (_, v) if v >= 0 => v }
    val total = if (ok.nonEmpty) ok.sum else 0.0
    def secMap(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => s"${jstr(k)}:" + f"$v%.3f" }.mkString("{", ",", "}")
    val qs = secMap(results.filter { case (_, v) => v >= 0 })
    // The stdout contract, kept short because the driver keeps only the
    // TAIL of stdout: the wall-clock contract line ({"metric","value",
    // "unit","queries","sf"}, ~2.5 KB at 113 queries with %.3f values),
    // the per-query chunk lines, then the short total line LAST. The
    // cpu/taskrun diagnostics ("detail", ~7 KB) go to a file beside the
    // build output instead, where they crowd out nothing.
    val detail = java.nio.file.Paths.get("target", "bench_detail.json")
    java.nio.file.Files.createDirectories(detail.getParent)
    java.nio.file.Files.writeString(detail,
      s"""{"metric":"detail","cpu_total":${f"${cpuSecs.values.sum}%.3f"},""" +
        s""""cpu_queries":${secMap(cpuSecs)},""" +
        s""""taskrun_queries":${secMap(runSecs)},"sf":${jstr(sfDir)}}""" + "\n")
    System.err.println(s"[bench] per-query cpu/taskrun detail: ${detail.toAbsolutePath}")
    println(s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qs$errJson,"sf":"$sfDir"}""")
    // Per-query map AGAIN in short self-contained chunk lines (≤ ~1 KB
    // each, ascending by wall time so the expensive queries land in the
    // LAST chunks): the driver keeps only the TAIL of stdout and the full
    // map line above is head-truncated past its opening brace at 188
    // queries, which left PERF's per_query/scaling comparison empty for
    // two rounds. Chunks near the end survive any tail window; each line
    // parses on its own. No chunk line when no query succeeded.
    val sortedQ = results.filter(_._2 >= 0).toSeq.sortBy(_._2)
    val chunks = sortedQ.grouped(30).toSeq
    chunks.zipWithIndex.foreach { case (c, i) =>
      println(s"""{"metric":"queries_chunk","chunk":${i + 1},""" +
        s""""n_chunks":${chunks.size},"queries":${secMap(c)}}""")
    }
    // Final SHORT line (~100 B): the driver keeps only the TAIL of stdout
    // and the per-query contract line (~3.5 KB) is head-truncated past its
    // opening brace, so eleven rounds of artifacts carried parsed:null.
    // This line repeats the wall-clock contract fields WITHOUT the
    // per-query map — short enough to always survive the tail window (the
    // full map still rides the line above for humans and local tooling).
    println(s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec",""" +
      s""""n_queries":${results.count(_._2 >= 0)},"n_errors":${errors.size},"sf":"$sfDir"}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
