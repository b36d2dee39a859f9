package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

/** One commit point per mutation: a batch sink's cursor commits in the
  * same snapshot manifest as its data, and the derived refresh's
  * prev-point sidecar (`derive_prev`) is a manifest table, so `restore`
  * brings back the sidecar that matches the restored watermarks.
  */
class CommitPointSpec extends SparkSpec {
  import spark.implicits._

  private def freshDs(): Datastream =
    new Datastream(spark, Files.createTempDirectory("graft-commit").toString)

  private def rows(r: (String, String, Double)*): DataFrame =
    dp(r).select("stream_id", "ts", "value")

  /** Delete the warehouse-root files named `<prefix>*`: what a crash
    * between a data commit and a separate cursor-marker write leaves.
    */
  private def dropRootFiles(ds: Datastream, prefix: String): Unit =
    new java.io.File(ds.warehouse).listFiles()
      .filter(_.getName.startsWith(prefix)).foreach(_.delete())

  private def us(t: String): Long = ts(t).getTime * 1000L

  private def sinkWarehouse(): Datastream = {
    val ds = freshDs()
    ds.ensureStream("s1"); ds.ensureStream("s2")
    ds
  }

  private val batch =
    Seq(("s1", "2024-01-01T00:00:10Z", 1.0), ("s2", "2024-01-01T00:00:20Z", 2.0))

  test("an appendBatch replayed after a crash in the cursor window appends nothing") {
    val ds = sinkWarehouse()
    ds.appendBatch(rows(batch: _*), 7L)
    dropRootFiles(ds, "ingest_batch_hwm")
    val n = ds.rawDatapoints.count()
    val v = ds.currentVersion
    ds.appendBatch(rows(batch: _*), 7L)
    assert(ds.rawDatapoints.count() == n)
    assert(ds.currentVersion == v)
  }

  test("an upsertBatch replayed after a crash in the cursor window commits nothing") {
    val ds = sinkWarehouse()
    ds.appendMultiple(rows(batch: _*))
    val u = rows(("s1", "2024-01-01T00:00:10Z", 5.0))
    ds.upsertBatch(u, 3L)
    dropRootFiles(ds, "upsert_batch_hwm")
    val v = ds.currentVersion
    ds.upsertBatch(u, 3L)
    assert(ds.currentVersion == v)
  }

  test("an applyDeleteBatch replayed after a crash in the cursor window commits nothing") {
    val ds = sinkWarehouse()
    ds.appendMultiple(rows(batch: _*))
    val ranges = Seq(("s2", us("2024-01-01T00:00:00Z"), us("2024-01-01T00:01:00Z")))
    ds.applyDeleteBatch(ranges, 9L)
    dropRootFiles(ds, "ingest_batch_hwm")
    val v = ds.currentVersion
    ds.applyDeleteBatch(ranges, 9L)
    assert(ds.currentVersion == v)
    assert(ds.rawDatapoints.select("stream_id").as[String].collect().toSeq == Seq("s1"))
  }

  test("cursors are read from the manifest; older warehouses' marker files are read, never written") {
    val ds = freshDs()
    ds.ensureStream("s1")
    ds.appendMultiple(rows(("s1", "2024-01-01T00:00:00Z", 1.0)))
    // a warehouse written before cursors moved into the manifest
    Files.writeString(java.nio.file.Paths.get(ds.warehouse, "ingest_batch_hwm.v4"), "4")
    Files.writeString(java.nio.file.Paths.get(ds.warehouse, "upsert_batch_hwm"), "2")
    val v = ds.currentVersion
    ds.appendBatch(rows(("s1", "2024-01-01T00:00:10Z", 2.0)), 4L)
    ds.upsertBatch(rows(("s1", "2024-01-01T00:00:00Z", 9.0)), 2L)
    assert(ds.currentVersion == v)
    assert(ds.ingestHighWatermark == 4L)
    ds.appendBatch(rows(("s1", "2024-01-01T00:00:10Z", 2.0)), 5L)
    ds.upsertBatch(rows(("s1", "2024-01-01T00:00:00Z", 9.0)), 3L)
    assert(ds.rawDatapoints.count() == 2)
    val header = scala.io.Source.fromFile(
      f"${ds.warehouse}/commitlog/${ds.currentVersion.get}%09d.manifest").getLines().next()
    assert(header.endsWith(" txn=ingest:5,upsert:3"), header)
    // the markers are left as they were: nothing writes or sweeps them
    assert(new java.io.File(ds.warehouse).list().filter(_.contains("batch_hwm")).sorted
      .toSeq == Seq("ingest_batch_hwm.v4", "upsert_batch_hwm"))
    // a commit that is not a batch sink carries the cursors forward
    ds.appendMultiple(rows(("s1", "2024-01-01T00:00:20Z", 3.0)))
    ds.appendBatch(rows(("s1", "2024-01-01T00:00:30Z", 4.0)), 5L)
    assert(ds.rawDatapoints.count() == 3)
    assert(ds.ingestHighWatermark == 5L)
  }

  /** Derived rows (stream, ts, value) of the lag-op derived streams. */
  private def derived(ds: Datastream): Seq[(String, java.sql.Timestamp, Double)] =
    ds.rawDatapoints.where($"stream_id".startsWith("d:"))
      .select("stream_id", "ts", "value").as[(String, java.sql.Timestamp, Double)]
      .collect().toSeq.sortBy(r => (r._1, r._2.getTime))

  private def derivedWarehouse(): Datastream = {
    val ds = freshDs()
    ds.ensureStream("src")
    ds.ensureStream("d:der", deriveOp = Some("derivative"), derivedFrom = Seq("src"))
    ds.ensureStream("d:cdr", deriveOp = Some("counter_derivative"),
      deriveArgs = Some("""{"max_value": 100}"""), derivedFrom = Seq("src"))
    ds.ensureStream("d:sum", deriveOp = Some("sum"), derivedFrom = Seq("src"))
    // rows before W1 = 00:01, and rows between W1 and W2 = 00:02
    ds.appendMultiple(rows(
      ("src", "2024-01-01T00:00:00Z", 10.0), ("src", "2024-01-01T00:00:10Z", 30.0),
      ("src", "2024-01-01T00:00:40Z", 35.0), ("src", "2024-01-01T00:01:10Z", 50.0),
      ("src", "2024-01-01T00:01:30Z", 20.0), ("src", "2024-01-01T00:01:50Z", 70.0)))
    ds
  }

  test("restore to an older present derived watermark re-stitches from that version's sidecar") {
    val ds = derivedWarehouse()
    ds.updateDerivedStreamsIncremental(ts("2024-01-01T00:01:00Z"))
    val v = ds.currentVersion.get
    ds.updateDerivedStreamsIncremental(ts("2024-01-01T00:02:00Z"))
    ds.restore(v)
    ds.updateDerivedStreamsIncremental(ts("2024-01-01T00:02:00Z"))
    val oneShot = derivedWarehouse()
    oneShot.updateDerivedStreams()
    assert(derived(oneShot).nonEmpty)
    assert(derived(ds) == derived(oneShot))
  }

  test("restore carries every sink cursor forward: an applied batch id stays skipped") {
    val ds = freshDs()
    ds.ensureStream("s1")
    ds.appendMultiple(rows(("s1", "2024-01-01T00:00:00Z", 1.0)))
    val v0 = ds.currentVersion.get
    val b = rows(("s1", "2024-01-01T00:00:10Z", 2.0))
    val u = rows(("s1", "2024-01-01T00:00:00Z", 9.0))
    ds.appendBatch(b, 5L)
    ds.upsertBatch(u, 3L)
    ds.restore(v0)
    val v = ds.currentVersion
    ds.appendBatch(b, 5L)
    ds.upsertBatch(u, 3L)
    ds.applyDeleteBatch(Seq(("s1", us("2024-01-01T00:00:00Z"), us("2024-01-01T00:01:00Z"))), 4L)
    assert(ds.currentVersion == v)
    assert(ds.rawDatapoints.select("value").as[Double].collect().toSeq == Seq(1.0))
    // a new batch id still lands
    ds.appendBatch(b, 6L)
    assert(ds.rawDatapoints.count() == 2)
  }

  test("a sidecar written before it was a manifest table is adopted by the next commit") {
    val ds = derivedWarehouse()
    ds.updateDerivedStreamsIncremental(ts("2024-01-01T00:01:00Z"))
    // an older engine wrote one live `derive_prev` directory and kept it
    // out of the manifests: strip the table from every manifest
    val log = new java.io.File(ds.warehouse, "commitlog")
    log.listFiles().filter(_.getName.endsWith(".manifest")).foreach { f =>
      val kept = scala.io.Source.fromFile(f).getLines().toSeq
        .filterNot(l => l.startsWith("+derive_prev\t") || l.startsWith("-derive_prev\t"))
        .map(_.replace(",derive_prev,", ","))
      Files.writeString(f.toPath, kept.mkString("", "\n", "\n"))
    }
    val legacy = new Datastream(spark, ds.warehouse)
    legacy.updateDerivedStreamsIncremental(ts("2024-01-01T00:02:00Z"))
    val oneShot = derivedWarehouse()
    oneShot.updateDerivedStreams()
    assert(derived(legacy) == derived(oneShot))
    // the full refresh clears the adopted sidecar from the snapshot
    legacy.updateDerivedStreams()
    assert(derived(legacy) == derived(oneShot))
    legacy.vacuumRaw(retainVersions = 1)
    assert(Option(new java.io.File(ds.warehouse, "derive_prev").list())
      .forall(_.forall(n => n.startsWith(".") || n.startsWith("_"))))
  }

  test("the sidecar stays out of the symlink export") {
    val ds = derivedWarehouse()
    ds.updateDerivedStreamsIncremental(ts("2024-01-01T00:01:00Z"))
    ds.generateSymlinkManifest()
    val out = new java.io.File(ds.warehouse, s"_symlink_manifest/v${ds.currentVersion.get}")
    assert(out.list().toSet.contains("derived.txt"))
    assert(!out.list().exists(_.startsWith("derive_prev")))
  }
}
