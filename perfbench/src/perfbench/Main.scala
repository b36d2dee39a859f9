package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one closed-loop client.
  *
  *   Main --workload <ingest|query> --seed <n> --seconds <s>
  *        --trace <0|1> --dir <scratch dir> [--spans <file>]
  *
  * Set-up (session, fixture, warm-up) is measured as `setup_s`; then whole
  * workload cycles run until `--seconds` have passed and the workload's
  * `minCycles` have run; then the results are
  * checked. With `--trace 1` spans and Spark jobs are recorded and the
  * per-layer metrics (wall-clock latencies among them) are printed instead
  * of the end-to-end ones. The last stdout line is the result object.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val name = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val dir = need("dir")

    val started = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, name, seed, seconds, trace, dir, opt.get("spans"), started)
    finally spark.stop()
  }

  def run(spark: SparkSession, name: String, seed: Long, seconds: Double, trace: Boolean,
          dir: String, spansFile: Option[String], started: Long): Unit = {
    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, tracer, seed, dir)
    val w: Workload = name match {
      case "ingest" => new Ingest(ctx)
      case "query" => new Query(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    tracer.op("setup")(w.setup())
    tracer.drain()
    val setupS = (System.nanoTime() - started) / 1e9

    ctx.timing = true
    val machine0 = Machine.sample()
    val timedFrom = tracer.nowMs
    val t0 = System.nanoTime()
    var cycles = 0
    // per cycle: successful operations, wall seconds, CPU accounting
    val perCycle = mutable.ArrayBuffer.empty[(Int, Double, Machine)]
    while (cycles < w.minCycles || (System.nanoTime() - t0) / 1e9 < seconds) {
      val (ok0, m0, c0) = (ctx.ops.count(_.ok), Machine.sample(), System.nanoTime())
      w.cycle(cycles)
      perCycle += ((ctx.ops.count(_.ok) - ok0, (System.nanoTime() - c0) / 1e9, Machine.sample().minus(m0)))
      cycles += 1
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    val machine = Machine.sample().minus(machine0)
    ctx.timing = false
    val timedTo = tracer.nowMs
    val c0 = System.nanoTime()
    tracer.op("check")(w.verify())
    val checkS = (System.nanoTime() - c0) / 1e9

    val ops = ctx.ops.toSeq
    val failedOps = ctx.badOps.size
    val failedRuns = ctx.runChecks.count(!_._2)
    val attempted = ops.size + ctx.runChecks.size
    val failed = failedOps + failedRuns
    ctx.badOps.values.foreach(m => System.err.println(s"perfbench: failed op: $m"))
    ctx.runChecks.filterNot(_._2).foreach(c => System.err.println(s"perfbench: failed check: ${c._1}"))

    // End to end: CPU seconds of work (Machine.workS), for set-up too, and
    // wall time less the hypervisor's steal spread over the vCPUs: what a
    // caller waits for, on an unshared host. The host is shared: between
    // runs, raw wall-clock times moved by up to 40 % with the CPU time the
    // hypervisor stole (0 to 22 s during a 20 s timed phase). Throughput
    // is the median over cycles, so one cycle hit by a burst of contention
    // does not set it. Medians of single operations rest on a few samples
    // of mixed classes and spread more than the bounds allow. Those, and
    // the raw wall-clock numbers, are reported per layer.
    def med(group: String, f: OpRec => Double) = Stats.median(ops.filter(_.group == group).map(f))
    val cores = Runtime.getRuntime.availableProcessors()
    val e2e = Seq(
      ("setup_s", machine0.workS, "s"),
      ("ops_per_cpu_s", Stats.median(perCycle.toSeq.map { case (n, _, m) => n / m.workS }), "1/s"),
      ("ops_per_s", Stats.median(perCycle.toSeq.map { case (n, s, m) => n / (s - m.stealS / cores) }), "1/s"),
      ("ok_op_share", 1.0 - failed.toDouble / attempted, "ratio"))
    val wall = Seq(
      ("cpu.op_p50_s", med("op", _.cpuSeconds), "s"),
      ("cpu.heavy_op_p50_s", med("heavy", _.cpuSeconds), "s"),
      ("wall.setup_s", setupS, "s"),
      ("wall.ops_per_s", ops.count(_.ok) / timedS, "1/s"),
      ("wall.op_p50_s", med("op", _.seconds), "s"),
      ("wall.heavy_op_p50_s", med("heavy", _.seconds), "s"),
      ("machine.cpu_s", machine.cpuS, "s"),
      ("machine.steal_s", machine.stealS, "s"),
      ("machine.jit_s", machine.jitS, "s"),
      ("machine.gc_s", machine.gcS, "s"),
      ("machine.peak_rss_mb", peakRssMb(), "MB"))

    // detail lines: every operation class with its sample count, median
    // and the highest percentile that has ten samples beyond it
    ops.groupBy(_.cls).toSeq.sortBy(_._1).foreach { case (cls, xs) =>
      val secs = xs.map(_.seconds)
      val tail = Stats.tail(secs).map { case (p, v) => s""","p$p":${Json.num(v)}""" }.getOrElse("")
      println(s"""{"op":${Json.str(cls)},"n":${secs.size},"p50":${Json.num(Stats.median(secs))}$tail,""" +
        s""""cpu_p50":${Json.num(Stats.median(xs.map(_.cpuSeconds)))},"unit":"s"}""")
    }
    println(s"""{"cycles":$cycles,"setup_wall_s":${Json.num(setupS)},"timed_s":${Json.num(timedS)},""" +
      s""""check_s":${Json.num(checkS)},"attempted":$attempted,"failed":$failed,""" +
      s""""cpu_s":${Json.num(machine.cpuS)},"steal_s":${Json.num(machine.stealS)},"jit_s":${Json.num(machine.jitS)},""" +
      s""""work_s":${Json.num(machine.workS)}}""")

    val metrics =
      if (!trace) e2e
      else {
        val probed = Layers.probe(w)
        val layers = wall ++ Layers.metrics(w, probed, (timedFrom, timedTo))
        spansFile.foreach { f =>
          val pw = new PrintWriter(new File(f))
          try tracer.spans.foreach(s => pw.println(tracer.spanJson(s)))
          finally pw.close()
        }
        layers
      }
    metrics.foreach { case (n, v, u) =>
      println(s"""{"metric":${Json.str(n)},"value":${Json.num(v)},"unit":${Json.str(u)}}""")
    }
    val body = metrics.map { case (n, v, u) =>
      s"""${Json.str(n)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }.mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$body}}""")
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
}

/** CPU accounting at one instant: CPU time of the whole JVM and of its JIT
  * compiler threads, CPU time the hypervisor has stolen from this VM (all
  * vCPUs, from `/proc/stat`) and GC time. `minus` turns two samples into
  * the accounting of the interval between them.
  */
final case class Machine(cpuS: Double, jitS: Double, stealS: Double, gcS: Double) {
  def minus(o: Machine): Machine =
    Machine(cpuS - o.cpuS, jitS - o.jitS, stealS - o.stealS, gcS - o.gcS)

  /** CPU seconds the JVM spent on the work of an interval (`minus` of two
    * samples): every thread but the JIT compiler's, whose work in a run
    * this short depends on when methods cross compile thresholds.
    */
  def workS: Double = cpuS - jitS
}

object Machine {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  private val Tick = 100.0 // USER_HZ: /proc times are in 1/100 s

  private def read(path: String): String = {
    val src = Source.fromFile(path)
    try src.mkString finally src.close()
  }

  /** utime + stime of a /proc stat file, in seconds. */
  private def statCpuS(path: String): Double = {
    val f = read(path)
    val rest = f.substring(f.lastIndexOf(')') + 2).split(' ')
    (rest(11).toLong + rest(12).toLong) / Tick
  }

  /** The JIT compiler threads: started with the JVM and never retired
    * (the runner turns dynamic compiler threads off).
    */
  private lazy val jitTasks: Seq[String] =
    Option(new java.io.File("/proc/self/task").list()).toSeq.flatten
      .filter(t => scala.util.Try(read(s"/proc/self/task/$t/comm")).getOrElse("").contains("CompilerThre"))
      .map(t => s"/proc/self/task/$t/stat")

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def sample(): Machine = {
    val steal = read("/proc/stat").linesIterator.next().trim.split("\\s+")(8).toDouble / Tick
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
    Machine(os.getProcessCpuTime / 1e9, jitTasks.map(statCpuS).sum, steal, gc)
  }
}
