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
    val v = ds.currentVersion
    ds.upsertBatch(u, 3L)
    assert(ds.currentVersion == v)
  }

  test("an applyDeleteBatch replayed after a crash in the cursor window commits nothing") {
    val ds = sinkWarehouse()
    ds.appendMultiple(rows(batch: _*))
    val ranges = Seq(("s2", us("2024-01-01T00:00:00Z"), us("2024-01-01T00:01:00Z")))
    ds.applyDeleteBatch(ranges, 9L)
    val v = ds.currentVersion
    ds.applyDeleteBatch(ranges, 9L)
    assert(ds.currentVersion == v)
    assert(ds.rawDatapoints.select("stream_id").as[String].collect().toSeq == Seq("s1"))
  }

  test("cursors are read from the manifest; a root holding cursor marker files is refused at open") {
    val ds = freshDs()
    ds.ensureStream("s1")
    ds.appendBatch(rows(("s1", "2024-01-01T00:00:10Z", 2.0)), 4L)
    ds.upsertBatch(rows(("s1", "2024-01-01T00:00:10Z", 9.0)), 2L)
    val v = ds.currentVersion
    ds.appendBatch(rows(("s1", "2024-01-01T00:00:20Z", 3.0)), 4L)
    ds.upsertBatch(rows(("s1", "2024-01-01T00:00:10Z", 5.0)), 2L)
    assert(ds.currentVersion == v)
    assert(ds.ingestHighWatermark == 4L)
    val header = scala.io.Source.fromFile(
      f"${ds.warehouse}/commitlog/${v.get}%09d.manifest").getLines().next()
    assert(header.endsWith(" txn=ingest:4,upsert:2"), header)
    // a commit that is not a batch sink carries the cursors forward
    ds.appendMultiple(rows(("s1", "2024-01-01T00:00:30Z", 4.0)))
    ds.appendBatch(rows(("s1", "2024-01-01T00:00:40Z", 5.0)), 4L)
    assert(ds.rawDatapoints.count() == 2)
    assert(ds.ingestHighWatermark == 4L)
    // the root cursor markers older engines wrote are below the format floor
    for (name <- Seq("ingest_batch_hwm.v4", "upsert_batch_hwm")) {
      val f = java.nio.file.Paths.get(ds.warehouse, name)
      Files.writeString(f, "4")
      val before = treeOf(ds.warehouse)
      val e = intercept[errors.UnsupportedFormat](new Datastream(spark, ds.warehouse))
      assert(e.getMessage.contains(name))
      assert(treeOf(ds.warehouse) == before)
      Files.delete(f)
    }
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

  test("a snapshot that does not cover the sidecar table is refused before anything is written") {
    val ds = derivedWarehouse()
    ds.updateDerivedStreamsIncremental(ts("2024-01-01T00:01:00Z"))
    // the manifests an engine wrote before `derive_prev` was a manifest
    // table: strip the table from every manifest
    val log = new java.io.File(ds.warehouse, "commitlog")
    log.listFiles().filter(_.getName.endsWith(".manifest")).foreach { f =>
      val kept = scala.io.Source.fromFile(f).getLines().toSeq
        .filterNot(l => l.startsWith("+derive_prev\t") || l.startsWith("-derive_prev\t"))
        .map(_.replace(",derive_prev,", ","))
      Files.writeString(f.toPath, kept.mkString("", "\n", "\n"))
    }
    val before = treeOf(ds.warehouse)
    val old = new Datastream(spark, ds.warehouse)
    Seq[() => Any](
      () => old.rawDatapoints.count(),
      () => old.updateDerivedStreamsIncremental(ts("2024-01-01T00:02:00Z")),
      () => old.vacuumRaw(retainVersions = 1)).foreach { op =>
      val e = intercept[errors.UnsupportedFormat](op())
      assert(e.getMessage.contains("derive_prev"))
    }
    assert(treeOf(ds.warehouse) == before)
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
