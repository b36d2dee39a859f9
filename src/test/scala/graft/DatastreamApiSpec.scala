package graft

import java.nio.file.Files

class DatastreamApiSpec extends SparkSpec {

  private def freshDs(): Datastream =
    new Datastream(spark, Files.createTempDirectory("graft-ds").toString)

  test("ensure + append + getData raw roundtrip; re-ensure is idempotent") {
    val ds = freshDs()
    ds.ensureStream("s1", Map("kind" -> "test"))
    ds.ensureStream("s1") // idempotent
    assert(ds.streams.count() == 1)
    ds.append("s1", 1.0, ts("2024-01-01T00:00:01Z"))
    ds.append("s1", 2.0, ts("2024-01-01T00:00:05Z"))
    val out = ds.getData("s1", Granularity.Seconds).collect()
    assert(out.map(_.getAs[Double]("value")).toSeq == Seq(1.0, 2.0))
  }

  test("non-monotone append rejected with InvalidTimestamp; opt-out drops stale rows") {
    val ds = freshDs()
    ds.ensureStream("s1")
    ds.append("s1", 1.0, ts("2024-01-01T00:01:00Z"))
    assertThrows[errors.InvalidTimestamp](
      ds.append("s1", 2.0, ts("2024-01-01T00:00:30Z")))
    ds.append("s1", 2.0, ts("2024-01-01T00:00:30Z"), checkTimestamp = false)
    assert(ds.getData("s1", Granularity.Seconds).count() == 1) // stale row dropped
  }

  test("append to a derived stream is not allowed") {
    val ds = freshDs()
    ds.ensureStream("src")
    ds.ensureStream("d", deriveOp = Some("derivative"), derivedFrom = Seq("src"))
    assertThrows[errors.AppendToDerivedStreamNotAllowed](
      ds.append("d", 1.0, ts("2024-01-01T00:00:00Z")))
  }

  test("derived stream granularity must match sources") {
    val ds = freshDs()
    ds.ensureStream("src", highestGranularity = Granularity.Seconds)
    assertThrows[errors.IncompatibleGranularities](
      ds.ensureStream("d", highestGranularity = Granularity.Minutes,
        deriveOp = Some("sum"), derivedFrom = Seq("src")))
  }

  test("delete_streams refuses while dependents survive, then succeeds") {
    val ds = freshDs()
    ds.ensureStream("src", Map("role" -> "source"))
    ds.ensureStream("d", Map("role" -> "derived"),
      deriveOp = Some("derivative"), derivedFrom = Seq("src"))
    val e = intercept[errors.OutstandingDependenciesError](
      ds.deleteStreams(Map("role" -> "source")))
    assert(e.getMessage == "[src,d]") // (source, derived) pairs
    assert(ds.deleteStreams(Map("role" -> "derived")) == 1)
    assert(ds.deleteStreams(Map("role" -> "source")) == 1)
    assert(ds.streams.count() == 0)
  }

  test("deleteStreams also purges rollup tables, keeping other streams' buckets") {
    val ds = freshDs()
    ds.ensureStream("keep", Map("fate" -> "keep"))
    ds.ensureStream("doomed", Map("fate" -> "doomed"))
    ds.appendMultiple(dp(Seq(
      ("keep", "2024-01-01T00:00:10Z", 1.0),
      ("doomed", "2024-01-01T00:00:20Z", 2.0))).select("stream_id", "ts", "value"))
    ds.downsampleStreams(ts("2024-01-02T00:00:00Z"))
    assert(ds.rollup(Granularity.Minutes).select("stream_id").distinct().count() == 2)
    ds.deleteStreams(Map("fate" -> "doomed"))
    import spark.implicits._
    assert(ds.rollup(Granularity.Minutes).select("stream_id").as[String]
      .collect().toSet == Set("keep"))
    assert(ds.rawDatapoints.select("stream_id").as[String].collect().toSet == Set("keep"))
  }

  test("downsampleStreams finalizes only complete buckets and is incremental") {
    val ds = freshDs()
    ds.ensureStream("s1")
    ds.appendMultiple(dp(Seq(
      ("s1", "2024-01-01T00:00:10Z", 1.0),
      ("s1", "2024-01-01T00:00:40Z", 3.0),
      ("s1", "2024-01-01T00:01:10Z", 5.0))).select("stream_id", "ts", "value"))
    // until mid-minute-1: only minute 0 is complete at minutes level
    ds.downsampleStreams(ts("2024-01-01T00:01:30Z"))
    val m1 = ds.getData("s1", Granularity.Minutes).collect()
    assert(m1.map(r => (r.getAs[java.sql.Timestamp]("bucket_start"),
      r.getAs[Long]("count"))).toSeq == Seq((ts("2024-01-01T00:00:00Z"), 2L)))
    assert(m1.head.getAs[Double]("mean") == 2.0)
    // later data + later watermark: minute 1 appears exactly once
    ds.appendMultiple(dp(Seq(("s1", "2024-01-01T00:01:50Z", 7.0)))
      .select("stream_id", "ts", "value"))
    ds.downsampleStreams(ts("2024-01-01T00:05:00Z"))
    val m2 = ds.getData("s1", Granularity.Minutes).collect()
    assert(m2.map(r => (r.getAs[java.sql.Timestamp]("bucket_start"),
      r.getAs[Long]("count"), r.getAs[Double]("mean"))).toSeq == Seq(
      (ts("2024-01-01T00:00:00Z"), 2L, 2.0),
      (ts("2024-01-01T00:01:00Z"), 2L, 6.0)))
    // cascade reached coarser levels from the finer rollup
    ds.downsampleStreams(ts("2024-01-02T00:00:00Z"))
    val d = ds.getData("s1", Granularity.Days).collect()
    assert(d.length == 1 && d.head.getAs[Long]("count") == 4L)
    assert(d.head.getAs[Double]("sum") == 16.0)
  }

  test("per-stream watermarks: a stream ensured late still gets its full history downsampled") {
    val ds = freshDs()
    ds.ensureStream("early")
    ds.appendMultiple(dp(Seq(("early", "2024-01-01T00:00:10Z", 1.0)))
      .select("stream_id", "ts", "value"))
    ds.downsampleStreams(ts("2024-01-02T00:00:00Z")) // advances early's watermark
    // now a NEW stream arrives with data entirely BEFORE that watermark
    ds.ensureStream("late")
    ds.appendMultiple(dp(Seq(("late", "2024-01-01T00:00:20Z", 7.0)))
      .select("stream_id", "ts", "value"))
    ds.downsampleStreams(ts("2024-01-02T00:00:00Z"))
    val m = ds.getData("late", Granularity.Minutes).collect()
    assert(m.length == 1 && m.head.getAs[Double]("sum") == 7.0)
    // and early's buckets were not duplicated by the second run
    assert(ds.getData("early", Granularity.Minutes).count() == 1)
  }

  test("filterTags maintains only matching streams; others catch up later") {
    val ds = freshDs()
    ds.ensureStream("a1", Map("team" -> "a"))
    ds.ensureStream("b1", Map("team" -> "b"))
    ds.appendMultiple(dp(Seq(
      ("a1", "2024-01-01T00:00:10Z", 1.0),
      ("b1", "2024-01-01T00:00:20Z", 2.0))).select("stream_id", "ts", "value"))
    val produced = ds.downsampleStreams(ts("2024-01-02T00:00:00Z"), Map("team" -> "a"))
    import spark.implicits._
    assert(produced(Granularity.Minutes).select("stream_id").as[String]
      .collect().toSet == Set("a1"))
    assert(ds.rollup(Granularity.Minutes).select("stream_id").as[String]
      .collect().toSet == Set("a1"))
    // unfiltered run later: b1 catches up from ITS watermark, a1 unchanged
    ds.downsampleStreams(ts("2024-01-02T00:00:00Z"))
    assert(ds.rollup(Granularity.Minutes).select("stream_id").as[String]
      .collect().toSet == Set("a1", "b1"))
    assert(ds.rollup(Granularity.Minutes).count() == 2)
  }

  test("downsampleStreams returns only newly finalized buckets; late data below the watermark never retracts") {
    val ds = freshDs()
    ds.ensureStream("s1")
    ds.appendMultiple(dp(Seq(("s1", "2024-01-01T00:00:10Z", 1.0)))
      .select("stream_id", "ts", "value"))
    val first = ds.downsampleStreams(ts("2024-01-01T01:00:00Z"))
    assert(first(Granularity.Minutes).count() == 1)
    // one point BELOW the advanced watermark (legal append: ≥ latest), one above
    ds.appendMultiple(dp(Seq(
      ("s1", "2024-01-01T00:30:00Z", 2.0),
      ("s1", "2024-01-01T01:30:00Z", 3.0))).select("stream_id", "ts", "value"))
    val second = ds.downsampleStreams(ts("2024-01-01T02:00:00Z"))
    // the reference's T3 policy: finalized regions never retract, so only the
    // 01:30 bucket materializes — and only IT is returned as new
    assert(second(Granularity.Minutes)
      .collect().map(_.getAs[java.sql.Timestamp]("bucket_start")).toSeq
      == Seq(ts("2024-01-01T01:30:00Z")))
    assert(ds.getData("s1", Granularity.Minutes).collect()
      .map(_.getAs[java.sql.Timestamp]("bucket_start")).toSeq
      == Seq(ts("2024-01-01T00:00:00Z"), ts("2024-01-01T01:30:00Z")))
    // a reprocess DOES pick the late point up (T6 backfill)
    ds.reprocessStreams(ts("2024-01-01T02:00:00Z"))
    assert(ds.getData("s1", Granularity.Minutes).count() == 3)
  }

  test("reprocess rebuilds rollups identical to the incremental build") {
    val ds = freshDs()
    ds.ensureStream("s1")
    ds.appendMultiple(dp(Seq(
      ("s1", "2024-01-01T00:00:10Z", 1.0),
      ("s1", "2024-01-01T00:03:40Z", 3.0),
      ("s1", "2024-01-01T02:01:10Z", 5.0))).select("stream_id", "ts", "value"))
    // incremental in two steps, then full reprocess — must agree exactly
    ds.downsampleStreams(ts("2024-01-01T01:00:00Z"))
    ds.downsampleStreams(ts("2024-01-02T00:30:00Z"))
    val incremental = ds.getData("s1", Granularity.Hours).collect().toSeq
    ds.reprocessStreams(ts("2024-01-02T00:30:00Z"))
    val reprocessed = ds.getData("s1", Granularity.Hours).collect().toSeq
    assert(incremental == reprocessed)
    assert(incremental.nonEmpty)
  }

  test("salted W1 sum equals the unsalted derive op exactly") {
    val src = dp(Seq(
      ("a", "2024-01-01T00:00:10Z", 1.5),
      ("b", "2024-01-01T00:00:50Z", 2.25),
      ("a", "2024-01-01T00:01:10Z", 5.0),
      ("c", "2024-01-01T00:01:20Z", -1.75)))
      .withColumn("group", org.apache.spark.sql.functions.lit("g"))
    val plain = Derive.sumStreams(src, Granularity.Minutes, Seq("group"))
      .select("group", "bucket_start", "sum", "contributing")
    val salted = Skew.sumStreamsSalted(src, Granularity.Minutes, Seq("group"))
      .select("group", "bucket_start", "sum", "contributing")
    assert(plain.exceptAll(salted).count() == 0)
    assert(salted.exceptAll(plain).count() == 0)
  }

  test("wire rendering emits the reference's {t, v} JSON shape") {
    val ds = freshDs()
    ds.ensureStream("s1")
    ds.append("s1", 4.25, ts("2024-01-01T00:00:01Z"))
    val wire = GetData.renderWire(ds.getData("s1", Granularity.Seconds))
      .collect().map(_.getString(0))
    assert(wire.toSeq == Seq("""{"t":"2024-01-01T00:00:01.000000Z","v":4.25}"""))
  }

  test("getData at a finer granularity than the stream's highest is an error") {
    val ds = freshDs()
    ds.ensureStream("s1", highestGranularity = Granularity.Minutes)
    ds.appendMultiple(dp(Seq(("s1", "2024-01-01T00:00:00Z", 1.0)))
      .select("stream_id", "ts", "value"))
    assertThrows[errors.UnsupportedGranularity](
      ds.getData("s1", Granularity.Seconds))
  }

  test("derived datapoints: batch materialization of derivative from source") {
    val ds = freshDs()
    ds.ensureStream("src")
    ds.ensureStream("d", deriveOp = Some("derivative"), derivedFrom = Seq("src"))
    ds.appendMultiple(dp(Seq(
      ("src", "2024-01-01T00:00:00Z", 10.0),
      ("src", "2024-01-01T00:00:10Z", 30.0))).select("stream_id", "ts", "value"))
    val out = ds.deriveDatapoints("d").collect()
    assert(out.map(_.getAs[Double]("derivative")).toSeq == Seq(2.0))
  }

  test("updateDerivedStreams makes getData serve derived streams; idempotent; downsample-able") {
    val ds = freshDs()
    ds.ensureStream("src")
    ds.ensureStream("d", deriveOp = Some("derivative"), derivedFrom = Seq("src"))
    ds.appendMultiple(dp(Seq(
      ("src", "2024-01-01T00:00:00Z", 10.0),
      ("src", "2024-01-01T00:00:10Z", 30.0),
      ("src", "2024-01-01T00:00:20Z", 90.0))).select("stream_id", "ts", "value"))
    ds.updateDerivedStreams()
    ds.updateDerivedStreams() // idempotent: recompute replaces, never duplicates
    val got = ds.getData("d", Granularity.Seconds).collect()
    assert(got.map(r => (r.getAs[java.sql.Timestamp]("ts"), r.getAs[Double]("value"))).toSeq
      == Seq((ts("2024-01-01T00:00:10Z"), 2.0), (ts("2024-01-01T00:00:20Z"), 6.0)))
    // source untouched
    assert(ds.getData("src", Granularity.Seconds).count() == 3)
    // and the derived stream rides the ordinary downsample cascade
    ds.downsampleStreams(ts("2024-01-02T00:00:00Z"))
    val m = ds.getData("d", Granularity.Minutes).collect()
    assert(m.length == 1 && m.head.getAs[Double]("mean") == 4.0)
  }

  test("updateDerivedStreams: one pass over all op classes at once, per-stream max_value") {
    val ds = freshDs()
    ds.ensureStream("a"); ds.ensureStream("b")
    ds.ensureStream("d_sum", deriveOp = Some("sum"), derivedFrom = Seq("a", "b"))
    ds.ensureStream("d_drv", deriveOp = Some("derivative"), derivedFrom = Seq("a"))
    ds.ensureStream("d_rst", deriveOp = Some("counter_reset"), derivedFrom = Seq("b"))
    ds.ensureStream("d_cdv", deriveOp = Some("counter_derivative"),
      deriveArgs = Some("""{"max_value": 100}"""), derivedFrom = Seq("b"))
    ds.appendMultiple(dp(Seq(
      ("a", "2024-01-01T00:00:00Z", 10.0),
      ("a", "2024-01-01T00:00:10Z", 30.0),
      ("b", "2024-01-01T00:00:05Z", 90.0),
      ("b", "2024-01-01T00:00:15Z", 20.0))).select("stream_id", "ts", "value"))
    ds.updateDerivedStreams()
    // sum: both sources aligned on seconds buckets (4 distinct seconds)
    assert(ds.getData("d_sum", Granularity.Seconds).count() == 4)
    // derivative over a: (30-10)/10
    assert(ds.getData("d_drv", Granularity.Seconds).collect()
      .map(_.getAs[Double]("value")).toSeq == Seq(2.0))
    // counter_reset over b: 20 < 90 ⇒ one reset
    assert(ds.getData("d_rst", Granularity.Seconds).collect()
      .map(_.getAs[Double]("value")).toSeq == Seq(1.0))
    // counter_derivative with per-stream max_value=100: (20 + (100-90))/10
    assert(ds.getData("d_cdv", Granularity.Seconds).collect()
      .map(_.getAs[Double]("value")).toSeq == Seq(3.0))
  }

  test("updateTags merges with override; removeTags drops keys; counts returned") {
    val ds = freshDs()
    ds.ensureStream("s1", Map("team" -> "alpha", "env" -> "prod"))
    ds.ensureStream("s2", Map("team" -> "alpha", "env" -> "dev"))
    assert(ds.updateTags(Map("env" -> "prod"), Map("team" -> "beta", "tier" -> "hot")) == 1)
    // merge overrode team and added tier on s1 only
    assert(ds.findStreams(Map("team" -> "beta")).collect().map(_.getAs[String]("stream_id")).toSeq == Seq("s1"))
    assert(ds.findStreams(Map("tier" -> "hot")).count() == 1)
    assert(ds.findStreams(Map("team" -> "alpha")).collect().map(_.getAs[String]("stream_id")).toSeq == Seq("s2"))
    // untouched key survives the merge
    assert(ds.findStreams(Map("env" -> "prod")).count() == 1)
    assert(ds.removeTags(Map("team" -> "alpha"), Seq("team")) == 1)
    assert(ds.findStreams(Map("team" -> "alpha")).count() == 0)
    assert(ds.findStreams(Map("env" -> "dev")).count() == 1) // other keys intact
    // no-match and empty-arg calls are no-ops
    assert(ds.updateTags(Map("team" -> "nope"), Map("x" -> "y")) == 0)
    assert(ds.removeTags(Map("env" -> "dev"), Seq.empty) == 0)
  }

  test("ensures leave O(1) registry files; 1000-stream batch ensure in one swap") {
    val dir = Files.createTempDirectory("graft-ds").toString
    val ds = new Datastream(spark, dir)
    // registry = immutable generations under streams_versions/; with no
    // manifest pinning older generations, the live parquet files across
    // the whole tree stay bounded by the concurrent-reader grace window
    // (RegistryGenRetention = 4) after ANY number of ensures — never one
    // tiny file per ensure
    def registryFiles(): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(s"$dir/streams_versions"))
    }
    (0 until 8).foreach(i => ds.ensureStream(s"single$i"))
    assert(registryFiles() <= 4) // bounded: 8 ensures never leave 8 files
    // batch: 1000 streams + one derived-from-a-batch-sibling, ONE swap
    val specs = (0 until 1000).map(i =>
      StreamMeta(s"bulk$i", Map("bulk" -> "y"), ValueType.Numeric,
        Seq.empty, Seq.empty, Granularity.Seconds.name)) :+
      StreamMeta("bulk_sum", Map.empty, ValueType.Numeric, Seq.empty, Seq.empty,
        Granularity.Seconds.name, Some("sum"), None, Seq("bulk0", "bulk1"))
    ds.ensureStreams(specs)
    assert(ds.streams.count() == 8 + 1001)
    assert(registryFiles() <= 4) // one swap for the whole batch
    // idempotent: re-ensuring the batch changes nothing
    ds.ensureStreams(specs)
    assert(ds.streams.count() == 8 + 1001)
    // batch validation mirrors the single verb
    assertThrows[errors.StreamNotFound](ds.ensureStreams(Seq(
      StreamMeta("dd", Map.empty, ValueType.Numeric, Seq.empty, Seq.empty,
        Granularity.Seconds.name, Some("sum"), None, Seq("no_such")))))
    assertThrows[errors.IncompatibleGranularities](ds.ensureStreams(Seq(
      StreamMeta("dd", Map.empty, ValueType.Numeric, Seq.empty, Seq.empty,
        Granularity.Minutes.name, Some("sum"), None, Seq("bulk0")))))
  }

  test("deleting a derived stream purges its derived slice and rollup rows") {
    val ds = freshDs()
    ds.ensureStream("src", Map("role" -> "src"))
    ds.ensureStream("d", Map("role" -> "derived"),
      deriveOp = Some("derivative"), derivedFrom = Seq("src"))
    ds.appendMultiple(dp(Seq(
      ("src", "2024-01-01T00:00:00Z", 10.0),
      ("src", "2024-01-01T00:00:10Z", 30.0))).select("stream_id", "ts", "value"))
    ds.updateDerivedStreams()
    ds.downsampleStreams(ts("2024-01-02T00:00:00Z"))
    // the derived stream has rollup rows of its own (it rides the cascade);
    // the pruned purge must still find them — its date bounds come from the
    // registry bounds updateDerivedStreams now maintains
    import org.apache.spark.sql.functions.col
    assert(ds.rollup(Granularity.Minutes).where(col("stream_id") === "d").count() == 1)
    ds.deleteStreams(Map("role" -> "derived"))
    assert(ds.rollup(Granularity.Minutes).where(col("stream_id") === "d").count() == 0)
    assert(ds.rollup(Granularity.Minutes).where(col("stream_id") === "src").count() > 0)
    assert(ds.rawDatapoints.where(col("stream_id") === "d").count() == 0)
    assert(ds.getData("src", Granularity.Seconds).count() == 2)
  }

  test("commit log: mutations leave commit markers; a surviving intent reports torn") {
    val dir = Files.createTempDirectory("graft-ds").toString
    val ds = new Datastream(spark, dir)
    ds.ensureStream("s1")
    ds.append("s1", 1.0, ts("2024-01-01T00:01:00Z"))
    ds.downsampleStreams(ts("2024-01-02T00:00:00Z"))
    assert(ds.tornOperations.isEmpty)
    def markers(): Seq[String] =
      Option(new java.io.File(s"$dir/commitlog").listFiles())
        .getOrElse(Array.empty[java.io.File]).map(_.getName).sorted.toSeq
    assert(markers().count(_.endsWith(".commit")) == 2) // append + downsample
    // a VALIDATION failure precedes the intent marker: no log entry at all
    val before = markers()
    assertThrows[errors.InvalidTimestamp](
      ds.append("s1", 2.0, ts("2024-01-01T00:00:30Z")))
    assert(markers() == before)
    // simulated crash mid-mutation: a stranded intent marker
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/commitlog/000000099.intent"),
      """{"version":99,"op":"append"}""")
    val ds2 = new Datastream(spark, dir)
    assert(ds2.tornOperations == Seq("append"))
    // versions continue past the stranded marker; new mutations still commit
    ds2.append("s1", 3.0, ts("2024-01-01T00:02:00Z"))
    assert(markers().exists(m => m.startsWith("000000100") && m.endsWith(".commit")))
  }

  test("registry generations: crash orphans stay invisible and are reclaimed; older engines' root leftovers are refused at open") {
    val dir = Files.createTempDirectory("graft-ds").toString
    val ds = new Datastream(spark, dir)
    ds.ensureStream("s1"); ds.ensureStream("s2")
    assert(ds.streams.count() == 2)
    val sv = s"$dir/streams_versions"
    def names() = Option(new java.io.File(sv).list()).map(_.toSeq).getOrElse(Seq.empty)
    val cur = names().filter(_.startsWith("CURRENT.g"))
      .map(_.stripPrefix("CURRENT.g").toLong).max
    // crash shape: a swap died AFTER renaming its generation dir into
    // place but BEFORE creating the CURRENT marker — the unpublished
    // g<cur+1> orphan must be invisible to readers and reclaimed (not
    // collided with) by the next swap
    val orphan = new java.io.File(s"$sv/g${cur + 1}")
    assert(orphan.mkdirs())
    assert(new java.io.File(orphan, "_stale").createNewFile())
    val ds2 = new Datastream(spark, dir)
    assert(ds2.streams.count() == 2) // reader resolves markers, not dirs
    ds2.ensureStream("s3")
    assert(ds2.streams.count() == 3)
    assert(!new java.io.File(orphan, "_stale").exists()) // orphan reclaimed
    // what older engines left at the root — the single `streams` registry
    // directory and the leftovers of in-place directory swaps — is below
    // the format floor: refused at open, with nothing written
    for (name <- Seq("streams", "streams.bak-300", "derive_prev.swap-7")) {
      val dir2 = Files.createTempDirectory("graft-ds").toString
      ds2.streams.coalesce(1).write.parquet(s"$dir2/$name")
      val before = treeOf(dir2)
      val e = intercept[errors.UnsupportedFormat](new Datastream(spark, dir2))
      assert(e.getMessage.contains(name))
      assert(treeOf(dir2) == before)
    }
  }

  test("deleteStreams purges out-of-band rows: null registry bounds disable the pruning window") {
    val dir = Files.createTempDirectory("graft-ds").toString
    val ds = new Datastream(spark, dir)
    ds.ensureStream("keep", Map("fate" -> "keep"))
    ds.ensureStream("ghost", Map("fate" -> "doomed"))
    ds.appendMultiple(dp(Seq(("keep", "2024-01-05T00:00:10Z", 1.0)))
      .select("stream_id", "ts", "value"))
    // rows for `ghost` written AROUND the bound-maintaining APIs (the
    // advice scenario: foreign writer / pre-upgrade warehouse) — its
    // registry bounds stay NULL, so a bounds-pruned purge would derive its
    // window from `keep`'s bounds and never visit these partitions
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, to_date}
    Seq(("ghost", ts("2023-06-01T00:00:00Z"), 9.0, null: String),
        ("ghost", ts("2024-03-01T00:00:00Z"), 9.0, null: String))
      .toDF("stream_id", "ts", "value", "value_json")
      .withColumn("dp_date", to_date(col("ts")))
      .write.partitionBy("dp_date").mode("append").parquet(s"$dir/raw")
    // foreign files are invisible to snapshot readers until adopted (the
    // convert-to-table-format step); the PURGE below must handle them
    // regardless — it reads live storage, not the snapshot
    assert(ds.rawDatapoints.where(col("stream_id") === "ghost").count() == 0)
    ds.adoptRaw()
    assert(ds.rawDatapoints.where(col("stream_id") === "ghost").count() == 2)
    ds.deleteStreams(Map("fate" -> "doomed"))
    assert(ds.rawDatapoints.where(col("stream_id") === "ghost").count() == 0)
    assert(ds.rawDatapoints.where(col("stream_id") === "keep").count() == 1)
  }

  test("deleteStreams escape probe: doomed rows OUTSIDE the registry window still purge") {
    val dir = Files.createTempDirectory("graft-ds").toString
    val ds = new Datastream(spark, dir)
    ds.ensureStream("doomed", Map("fate" -> "doomed"))
    ds.appendMultiple(dp(Seq(("doomed", "2024-01-10T00:00:10Z", 1.0)))
      .select("stream_id", "ts", "value"))
    // non-null bounds now pin the window to Jan 10 — plant an out-of-band
    // row far outside it; the limit-1 probe must escalate and purge it
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, to_date}
    Seq(("doomed", ts("2024-02-20T00:00:00Z"), 9.0, null: String))
      .toDF("stream_id", "ts", "value", "value_json")
      .withColumn("dp_date", to_date(col("ts")))
      .write.partitionBy("dp_date").mode("append").parquet(s"$dir/raw")
    ds.deleteStreams(Map("fate" -> "doomed"))
    assert(ds.rawDatapoints.count() == 0)
  }

  test("deleteStreams leaves every table equal to an anti-join of its rows before") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, to_date}
    val dir = Files.createTempDirectory("graft-ds").toString
    val ds = new Datastream(spark, dir)
    ds.ensureStream("k1", Map("fate" -> "keep"))
    ds.ensureStream("k2", Map("fate" -> "keep", "name" -> "k2"))
    // `x` takes rows before it is registered: they lie outside its
    // registry bounds, in files shared with the kept streams
    ds.appendMultiple(dp(Seq(
      ("k1", "2023-03-01T00:00:10Z", 1.0), ("k2", "2023-03-01T00:00:20Z", 2.0),
      ("x", "2023-03-01T00:00:30Z", 3.0))).select("stream_id", "ts", "value"))
    ds.ensureStream("x", Map("fate" -> "doomed"))
    ds.ensureStream("y", Map("fate" -> "doomed"))
    ds.appendMultiple(dp(Seq(
      ("k1", "2023-06-01T00:00:10Z", 4.0), ("k1", "2023-06-02T00:00:10Z", 7.0),
      ("k2", "2023-06-01T00:00:20Z", 5.0), ("k2", "2023-06-02T00:00:20Z", 8.0),
      ("x", "2023-06-01T00:00:30Z", 6.0), ("y", "2023-06-02T00:00:40Z", 9.0),
      ("y", "2023-06-02T00:01:40Z", 10.0))).select("stream_id", "ts", "value"))
    ds.ensureStream("dk", Map("fate" -> "keep"),
      deriveOp = Some("derivative"), derivedFrom = Seq("k1"))
    ds.ensureStream("dy", Map("fate" -> "doomed"),
      deriveOp = Some("derivative"), derivedFrom = Seq("y"))
    ds.updateDerivedStreams()
    ds.downsampleStreams(ts("2023-07-01T00:00:00Z"))
    // a pending merge-on-read delete of a kept stream
    assert(ds.deleteDatapoints(Map("name" -> "k2"),
      ts("2023-06-02T00:00:15Z"), ts("2023-06-02T00:00:25Z")) === 1L)
    // a foreign file adopted without stats, holding doomed and kept rows
    Seq(("x", ts("2023-09-01T00:00:00Z"), 11.0, null: String),
        ("k2", ts("2023-09-01T00:00:05Z"), 12.0, null: String))
      .toDF("stream_id", "ts", "value", "value_json")
      .withColumn("dp_date", to_date(col("ts")))
      .write.partitionBy("dp_date").mode("append").parquet(s"$dir/raw")
    ds.adoptRaw()
    val tables = Seq("raw" -> Schemas.rawDatapointsPartitioned,
      "derived" -> Schemas.rawDatapoints, "raw_deletes" -> Schemas.rawDeletes) ++
      Granularity.ladder.map(g =>
        s"rollup/granularity=${g.name}" -> Schemas.downsampledPartitioned)
    def rowsOf(table: String, schema: org.apache.spark.sql.types.StructType): Seq[Row] = {
      val files = ds.plannedFiles(table, None, None)
      if (files.isEmpty) Seq.empty
      else spark.read.option("basePath", s"$dir/$table").schema(schema)
        .parquet(files.toSeq.map(f => s"$dir/$table/$f"): _*)
        .select(schema.fieldNames.toSeq.map(col): _*).collect().toSeq
    }
    def multiset(rows: Seq[Row]) = rows.groupBy(identity).view.mapValues(_.size).toMap
    val before = tables.map { case (t, s) => t -> rowsOf(t, s) }.toMap
    assert(Granularity.ladder.forall(g =>
      before(s"rollup/granularity=${g.name}").exists(_.getAs[String]("stream_id") == "y")))
    assert(before("raw").count(_.getAs[String]("stream_id") == "x") === 3)
    assert(before("derived").exists(_.getAs[String]("stream_id") == "dy"))
    val logicalBefore = ds.rawDatapoints.collect().toSeq
    val doomed = Seq("x", "y", "dy").toDF("stream_id")
    assert(ds.deleteStreams(Map("fate" -> "doomed")) === 3L)
    tables.foreach { case (t, s) =>
      val expected = if (before(t).isEmpty) Seq.empty[Row]
        else spark.createDataFrame(spark.sparkContext.parallelize(before(t)), s)
          .join(doomed, Seq("stream_id"), "left_anti")
          .select(s.fieldNames.toSeq.map(col): _*).collect().toSeq
      assert(multiset(rowsOf(t, s)) === multiset(expected), t)
    }
    val logicalExpected = spark.createDataFrame(
        spark.sparkContext.parallelize(logicalBefore), Schemas.rawDatapoints)
      .join(doomed, Seq("stream_id"), "left_anti")
      .select(Schemas.rawDatapoints.fieldNames.toSeq.map(col): _*).collect().toSeq
    assert(multiset(ds.rawDatapoints.collect().toSeq) === multiset(logicalExpected))
    assert(ds.streams.select("stream_id").as[String].collect().toSet ===
      Set("k1", "k2", "dk"))
  }

  test("ensure validates granularity strings and derive ops at the door") {
    val ds = freshDs()
    assertThrows[errors.InvalidOperatorArguments](
      ds.ensureStream("d", deriveOp = Some("median"), derivedFrom = Seq.empty))
    ds.ensureStream("src")
    assertThrows[IllegalArgumentException](ds.ensureStreams(Seq(
      StreamMeta("bad", Map.empty, ValueType.Numeric, Seq.empty, Seq.empty,
        "fortnight")))) // typo'd granularity would null every derive bucket
    assertThrows[errors.InvalidOperatorArguments](ds.ensureStreams(Seq(
      StreamMeta("bad", Map.empty, ValueType.Numeric, Seq.empty, Seq.empty,
        Granularity.Seconds.name, Some("p99"), None, Seq("src")))))
    assert(ds.streams.count() == 1) // nothing invalid was admitted
  }

  test("reprocessStreams resolves torn-operation markers; acknowledgeTorn is the manual path") {
    val dir = Files.createTempDirectory("graft-ds").toString
    val ds = new Datastream(spark, dir)
    ds.ensureStream("s1")
    ds.append("s1", 1.0, ts("2024-01-01T00:01:00Z"))
    // stranded markers from two crashed mutations
    new java.io.File(s"$dir/commitlog").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/commitlog/000000090.intent"),
      """{"version":90,"op":"append"}""")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/commitlog/000000091.failed"),
      """{"version":91,"op":"delete_streams"}""")
    assert(ds.tornOperations == Seq("append", "delete_streams"))
    // the recommended remedy rebuilds the rollups AND clears the warning
    ds.reprocessStreams(ts("2024-01-02T00:00:00Z"))
    assert(ds.tornOperations.isEmpty)
    val names = Option(new java.io.File(s"$dir/commitlog").listFiles())
      .getOrElse(Array.empty[java.io.File]).map(_.getName)
    assert(names.count(_.endsWith(".resolved")) == 2) // audit trail kept
    assert(ds.getData("s1", Granularity.Minutes).count() == 1) // and it rebuilt
    // manual path: plant one more, acknowledge without reprocessing
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/commitlog/000000095.intent"),
      """{"version":95,"op":"compact"}""")
    assert(ds.acknowledgeTorn() == 1)
    assert(ds.tornOperations.isEmpty)
  }

  test("foreign partition directories with undecodable names don't crash mutations") {
    val dir = Files.createTempDirectory("graft-ds").toString
    val ds = new Datastream(spark, dir)
    ds.ensureStream("s1", Map("fate" -> "doomed"))
    ds.append("s1", 1.0, ts("2024-01-01T00:00:00Z"))
    // a hand-created dir whose name is NOT valid %XX escaping: decoding it
    // must fall back to the literal characters, not throw mid-delete
    assert(new java.io.File(s"$dir/derived/stream_id=x%zq").mkdirs())
    assert(ds.deleteStreams(Map("fate" -> "doomed")) == 1)
    assert(new java.io.File(s"$dir/derived/stream_id=x%zq").exists()) // untouched
  }

  test("compact: fragmented partitions collapse to one sorted file each, data bit-identical") {
    val dir = Files.createTempDirectory("graft-ds").toString
    val ds = new Datastream(spark, dir)
    ds.ensureStream("a"); ds.ensureStream("b")
    ds.ensureStream("d", deriveOp = Some("sum"), derivedFrom = Seq("a", "b"))
    // two appends into the SAME dp_date partition (different streams), so
    // raw/dp_date=2024-01-01 holds ≥2 files; two maintenance passes split
    // mid-day fragment the rollup partitions the same way
    ds.appendMultiple(dp(Seq(
      ("a", "2024-01-01T00:00:10Z", 1.0),
      ("a", "2024-01-01T13:00:10Z", 2.0))).select("stream_id", "ts", "value"))
    ds.appendMultiple(dp(Seq(
      ("b", "2024-01-01T00:00:20Z", 3.0),
      ("b", "2024-01-01T13:00:20Z", 4.0))).select("stream_id", "ts", "value"))
    ds.updateDerivedStreams()
    ds.downsampleStreams(ts("2024-01-01T12:00:00Z"))
    ds.downsampleStreams(ts("2024-01-02T00:00:00Z"))
    def files(sub: String): Seq[String] =
      Option(new java.io.File(s"$dir/$sub").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(_.getName).toSeq
    assert(files("raw/dp_date=2024-01-01").size >= 2)
    assert(files("rollup/granularity=seconds/bucket_date=2024-01-01").size >= 2)
    val rawBefore = ds.rawDatapoints.collect().toSet
    val rollBefore = ds.rollup(Granularity.Seconds).collect().toSet
    val stats = ds.compact()
    // compaction retires the fragmented files LOGICALLY — they stay on
    // disk (older snapshots still reference them) until an aggressive
    // vacuum reclaims everything the current snapshot no longer needs
    assert(files("raw/dp_date=2024-01-01").size > 1)
    assert(ds.vacuumRaw(retainVersions = 1) >= 1L)
    assert(files("raw/dp_date=2024-01-01").size == 1)
    assert(files("rollup/granularity=seconds/bucket_date=2024-01-01").size == 1)
    assert(stats("raw")._1 > stats("raw")._2)
    assert(ds.rawDatapoints.collect().toSet == rawBefore)
    assert(ds.rollup(Granularity.Seconds).collect().toSet == rollBefore)
    // idempotent: a second compact finds nothing fat and rewrites nothing
    assert(ds.compact() == stats.map { case (k, (_, after)) => k -> (after, after) })
  }

  test("scoped compact (OPTIMIZE WHERE): only date partitions inside the window rewrite") {
    val dir = Files.createTempDirectory("graft-ds").toString
    val ds = new Datastream(spark, dir)
    ds.ensureStream("a"); ds.ensureStream("b")
    // fragment TWO raw date partitions the same way
    Seq("2024-01-01", "2024-01-05").foreach { d =>
      ds.appendMultiple(dp(Seq((s"a", s"${d}T00:00:10Z", 1.0)))
        .select("stream_id", "ts", "value"))
      ds.appendMultiple(dp(Seq((s"b", s"${d}T00:00:20Z", 2.0)))
        .select("stream_id", "ts", "value"))
    }
    def files(sub: String): Int =
      Option(new java.io.File(s"$dir/$sub").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .count(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
    assert(files("raw/dp_date=2024-01-01") >= 2)
    assert(files("raw/dp_date=2024-01-05") >= 2)
    val before = ds.rawDatapoints.collect().toSet
    // scope = Jan 1 only: the Jan 5 partition must stay untouched
    ds.compact(start = Some(ts("2024-01-01T00:00:00Z")),
      end = Some(ts("2024-01-01T23:59:59Z")))
    ds.vacuumRaw(retainVersions = 1)
    assert(files("raw/dp_date=2024-01-01") === 1)
    assert(files("raw/dp_date=2024-01-05") >= 2)
    assert(ds.rawDatapoints.collect().toSet === before)
    // full compact then collapses the rest
    ds.compact()
    ds.vacuumRaw(retainVersions = 1)
    assert(files("raw/dp_date=2024-01-05") === 1)
    assert(ds.rawDatapoints.collect().toSet === before)
  }

  test("lifecycle soak: every verb composed end-to-end leaves a consistent warehouse") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-ds").toString
    val ds = new Datastream(spark, dir)
    // ensure (single + batch + derived), tag CRUD
    ds.ensureStream("a", Map("team" -> "x"))
    ds.ensureStreams(Seq(
      StreamMeta("b", Map("team" -> "x"), ValueType.Numeric, Seq.empty, Seq.empty,
        Granularity.Seconds.name),
      StreamMeta("d", Map("team" -> "y"), ValueType.Numeric, Seq.empty, Seq.empty,
        Granularity.Seconds.name, Some("sum"), None, Seq("a", "b"))))
    ds.updateTags(Map("team" -> "x"), Map("tier" -> "hot"))
    // append (bulk + streaming-batch), derive, maintain
    ds.appendMultiple(dp(Seq(
      ("a", "2024-01-01T00:00:10Z", 1.0), ("b", "2024-01-01T00:00:10Z", 2.0),
      ("a", "2024-01-01T02:00:10Z", 3.0))).select("stream_id", "ts", "value"))
    ds.appendBatch(dp(Seq(("b", "2024-01-02T00:00:10Z", 4.0)))
      .select("stream_id", "ts", "value"), 0L)
    ds.updateDerivedStreams()
    ds.downsampleStreams(ts("2024-01-03T00:00:00Z"))
    // compact, then reprocess (rebuild must equal the incremental state)
    val hoursBefore = ds.getData("a", Granularity.Hours).collect().toSeq
    ds.compact()
    assert(ds.getData("a", Granularity.Hours).collect().toSeq == hoursBefore)
    ds.reprocessStreams(ts("2024-01-03T00:00:00Z"))
    assert(ds.getData("a", Granularity.Hours).collect().toSeq == hoursBefore)
    // derived stream served like an ordinary one: three buckets —
    // 1+2 (both sources), 3 (a alone), 4 (b alone)
    val dSec = ds.getData("d", Granularity.Seconds).collect()
    assert(dSec.map(_.getAs[Double]("value")).sorted.toSeq == Seq(3.0, 3.0, 4.0))
    // delete the derived stream, then one source; survivors intact
    ds.deleteStreams(Map("team" -> "y"))
    ds.updateTags(Map("stream_id" -> "ignored"), Map.empty) // no-op arm
    assert(ds.deleteStreams(Map("tier" -> "hot")) == 2)
    assert(ds.streams.count() == 0)
    assert(ds.rawDatapoints.count() == 0)
    assert(ds.tornOperations.isEmpty)
  }

  test("writer lock: a held lock fails mutations fast; released lock lets them proceed") {
    val dir = Files.createTempDirectory("graft-ds").toString
    val ds = new Datastream(spark, dir)
    ds.ensureStream("s1")
    val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(s"$dir/.writer_lock"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val lock = ch.tryLock()
    try {
      assertThrows[errors.MaintenanceLockContended](
        ds.append("s1", 1.0, ts("2024-01-01T00:00:00Z")))
      assertThrows[errors.MaintenanceLockContended](ds.ensureStream("s2"))
      assertThrows[errors.MaintenanceLockContended](
        ds.updateTags(Map.empty, Map("k" -> "v")))
    } finally { lock.release(); ch.close() }
    // contention is transient: the same verbs succeed once the lock frees
    ds.append("s1", 1.0, ts("2024-01-01T00:00:00Z"))
    ds.ensureStream("s2")
    assert(ds.streams.count() == 2)
    assert(ds.getData("s1", Granularity.Seconds).count() == 1)
  }

  test("appendBatch: replayed batch ids are skipped; bounds advance with landed rows") {
    val ds = freshDs()
    ds.ensureStream("s1")
    val b0 = dp(Seq(("s1", "2024-01-01T00:00:10Z", 1.0)))
      .select("stream_id", "ts", "value")
    val b1 = dp(Seq(("s1", "2024-01-01T00:00:20Z", 2.0)))
      .select("stream_id", "ts", "value")
    ds.appendBatch(b0, 0L)
    ds.appendBatch(b0, 0L) // foreachBatch retry: must be a no-op
    ds.appendBatch(b1, 1L)
    ds.appendBatch(b1, 1L)
    assert(ds.rawDatapoints.count() == 2)
    // the registry heard about every landed row — the contract that keeps
    // the delete purge pruned and monotonicity checks working
    val m = ds.streamMeta("s1")
    assert(m.earliest_datapoint.contains(ts("2024-01-01T00:00:10Z")))
    assert(m.latest_datapoint.contains(ts("2024-01-01T00:00:20Z")))
    // an out-of-order batch is the T3 drop arm, not a crash
    ds.appendBatch(dp(Seq(("s1", "2024-01-01T00:00:15Z", 9.0)))
      .select("stream_id", "ts", "value"), 2L)
    assert(ds.rawDatapoints.count() == 2)
  }

  test("incremental derived refresh: stepwise equals one-shot; pre-watermark partitions never read") {
    import spark.implicits._
    def build(): (Datastream, String) = {
      val dir = Files.createTempDirectory("graft-dinc").toString
      val ds = new Datastream(spark, dir)
      ds.ensureStream("s1"); ds.ensureStream("s2")
      ds.ensureStream("d:s", deriveOp = Some("sum"), derivedFrom = Seq("s1", "s2"))
      ds.ensureStream("d:d", deriveOp = Some("derivative"), derivedFrom = Seq("s1"))
      ds.ensureStream("d:r", deriveOp = Some("counter_reset"), derivedFrom = Seq("s2"))
      (ds, dir)
    }
    val day1 = Seq(
      ("s1", "2024-01-01T00:00:10Z", 1.0), ("s1", "2024-01-01T00:00:40Z", 5.0),
      ("s2", "2024-01-01T00:00:20Z", 3.0), ("s2", "2024-01-01T00:00:50Z", 2.0))
    val day2 = Seq( // first day-2 point of each op crosses the lag boundary
      ("s1", "2024-01-02T00:00:05Z", 2.0),
      ("s2", "2024-01-02T00:00:25Z", 1.0))
    def derivedRows(dir: String) =
      spark.read.schema(Schemas.rawDatapoints).parquet(s"$dir/derived")
        .select("stream_id", "ts", "value")
        .as[(String, java.sql.Timestamp, Double)].collect().toSet
    // A: two watermarked refreshes with the day-1 raw files CORRUPTED in
    // between — the second refresh's scan is dp_date-pruned to
    // [watermark, until), so it must never OPEN them; an unpruned scan
    // would die on the garbage parquet footer
    val (a, dirA) = build()
    a.appendMultiple(dp(day1).select("stream_id", "ts", "value"))
    a.updateDerivedStreamsIncremental(ts("2024-01-02T00:00:00Z"))
    val day1Dir = new java.io.File(s"$dirA/raw/dp_date=2024-01-01")
    val day1Files = Option(day1Dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("."))
    assert(day1Files.nonEmpty)
    day1Files.foreach(f =>
      java.nio.file.Files.write(f.toPath, "not parquet".getBytes))
    a.appendMultiple(dp(day2).select("stream_id", "ts", "value"))
    a.updateDerivedStreamsIncremental(ts("2024-01-03T00:00:00Z"))
    // B: one-shot refresh over the full history
    val (bDs, dirB) = build()
    bDs.appendMultiple(dp(day1 ++ day2).select("stream_id", "ts", "value"))
    bDs.updateDerivedStreamsIncremental(ts("2024-01-03T00:00:00Z"))
    val stepwise = derivedRows(dirA)
    val oneShot = derivedRows(dirB)
    assert(stepwise === oneShot)
    // the boundary-crossing emissions exist and used the sidecar's prev
    // point: derivative at day-2 00:00:05 = (2.0 - 5.0) / 86365s, and the
    // cross-boundary counter reset fired
    val derDay2 = stepwise.collect {
      case ("d:d", t, v) if t.toInstant.toString.startsWith("2024-01-02") => v }
    assert(derDay2 === Set((2.0 - 5.0) / 86365.0))
    assert(stepwise.exists { case (id, t, v) =>
      id == "d:r" && t.toInstant.toString.startsWith("2024-01-02") && v == 1.0 })
    // idempotent: a refresh with no new work emits nothing and the
    // watermark stays; a new refresh past the data advances it
    val filesBefore = derivedRows(dirA).size
    a.updateDerivedStreamsIncremental(ts("2024-01-03T00:00:00Z"))
    assert(derivedRows(dirA).size === filesBefore)
  }

  test("incremental derive: random workloads, K random refresh cuts equal one-shot, all four op classes") {
    import spark.implicits._
    def build(): (Datastream, String) = {
      val dir = Files.createTempDirectory("graft-dincr").toString
      val ds = new Datastream(spark, dir)
      ds.ensureStream("s1"); ds.ensureStream("s2")
      ds.ensureStream("d:sum", deriveOp = Some("sum"),
        derivedFrom = Seq("s1", "s2"))
      ds.ensureStream("d:der", deriveOp = Some("derivative"),
        derivedFrom = Seq("s1"))
      ds.ensureStream("d:rst", deriveOp = Some("counter_reset"),
        derivedFrom = Seq("s2"))
      ds.ensureStream("d:cdr", deriveOp = Some("counter_derivative"),
        deriveArgs = Some("""{"max_value": 100}"""),
        derivedFrom = Seq("s2"))
      (ds, dir)
    }
    def derivedRows(dir: String) =
      spark.read.schema(Schemas.rawDatapoints).parquet(s"$dir/derived")
        .select("stream_id", "ts", "value")
        .as[(String, java.sql.Timestamp, Double)].collect().toSet
    Seq(7L, 23L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      var clockUs = ts("2024-01-01T00:00:00Z").getTime * 1000L
      val points = (0 until 40).map { _ =>
        clockUs += (1L + rnd.nextInt(10800)) * 1000000L // ≤3h steps, ~2 days
        (if (rnd.nextBoolean()) "s1" else "s2",
          new java.sql.Timestamp(clockUs / 1000L),
          rnd.nextInt(100).toDouble) // values wrap vs max_value=100 often
      }
      // 3 random interior cuts (sorted, distinct) + one past all data
      val cutUs = rnd.shuffle(points.map(_._2.getTime * 1000L).toVector)
        .take(3).sorted :+ (clockUs + 86400000000L)
      val (a, dirA) = build()
      var lo = Long.MinValue
      cutUs.foreach { cut =>
        val slice = points.filter(p =>
          p._2.getTime * 1000L >= lo && p._2.getTime * 1000L < cut)
        if (slice.nonEmpty)
          a.appendMultiple(slice.toDF("stream_id", "ts", "value"))
        a.updateDerivedStreamsIncremental(new java.sql.Timestamp(cut / 1000L))
        lo = cut
      }
      val (b, dirB) = build()
      b.appendMultiple(points.toDF("stream_id", "ts", "value"))
      b.updateDerivedStreamsIncremental(
        new java.sql.Timestamp(cutUs.last / 1000L))
      val stepwise = derivedRows(dirA)
      assert(stepwise === derivedRows(dirB), s"divergence for seed $seed")
      // the workload genuinely exercised every op class
      val classes = stepwise.map(_._1)
      assert(Set("d:sum", "d:der", "d:rst", "d:cdr").subsetOf(classes),
        s"seed $seed produced only $classes")
    }
  }

  test("updateDerivedStreams drops a derived slice whose recompute is empty") {
    val dir = Files.createTempDirectory("graft-ds").toString
    val ds = new Datastream(spark, dir)
    // a single-point source: derivative recompute is legitimately EMPTY
    ds.ensureStream("src")
    ds.ensureStream("d:colon", deriveOp = Some("derivative"), derivedFrom = Seq("src"))
    ds.appendMultiple(dp(Seq(("src", "2024-01-01T00:00:00Z", 10.0)))
      .select("stream_id", "ts", "value"))
    // plant a stale slice from an earlier world (the advice scenario: a
    // prior refresh wrote rows; this one computes none). The out-of-band
    // write is invisible to snapshot readers until explicitly adopted —
    // exactly the isolation contract — so adopt it first; the refresh must
    // then drop it, including through the %3A-escaped directory name.
    import spark.implicits._
    Seq(("d:colon", ts("2023-12-31T00:00:00Z"), 42.0, null: String))
      .toDF("stream_id", "ts", "value", "value_json")
      .write.partitionBy("stream_id").mode("append").parquet(s"$dir/derived")
    assert(ds.getData("d:colon", Granularity.Seconds).count() == 0)
    ds.adoptRaw()
    assert(ds.getData("d:colon", Granularity.Seconds).count() == 1)
    ds.updateDerivedStreams()
    assert(ds.getData("d:colon", Granularity.Seconds).count() == 0)
    // the source stream's slice of the fact table is untouched
    assert(ds.getData("src", Granularity.Seconds).count() == 1)
  }

  test("restore to before the first incremental refresh leaves no stale lag stitch") {
    val ds = freshDs()
    ds.ensureStream("src")
    ds.ensureStream("d", deriveOp = Some("derivative"), derivedFrom = Seq("src"))
    ds.appendMultiple(dp(Seq(("src", "2024-01-01T00:00:00Z", 10.0)))
      .select("stream_id", "ts", "value"))
    val beforeRefresh = ds.currentVersion.get
    ds.appendMultiple(dp(Seq(("src", "2024-01-01T00:00:10Z", 30.0)))
      .select("stream_id", "ts", "value"))
    ds.updateDerivedStreamsIncremental(ts("2024-01-02T00:00:00Z"))
    assert(ds.getData("d", Granularity.Seconds).count() == 1)
    // the restored registry has no "derived" watermark, so the next refresh
    // bootstraps — it must not stitch the sidecar's prev point, a source row
    // the restore removed
    ds.restore(beforeRefresh)
    ds.updateDerivedStreamsIncremental(ts("2024-01-02T00:00:00Z"))
    assert(ds.getData("d", Granularity.Seconds).count() == 0)
  }

  test("an empty batch commits nothing and leaves every read unchanged") {
    val ds = freshDs()
    ds.ensureStream("s1")
    ds.appendMultiple(dp(Seq(("s1", "2024-01-01T00:00:00Z", 1.0)))
      .select("stream_id", "ts", "value"))
    def reads() = (ds.currentVersion, ds.history,
      ds.getData("s1", Granularity.Seconds).collect().toSeq,
      ds.streams.collect().toSeq)
    val before = reads()
    val empty = dp(Seq.empty).select("stream_id", "ts", "value")
    ds.appendMultiple(empty)
    ds.appendBatch(empty, 1L)
    assert(ds.upsertDatapoints(empty) == 0L)
    assert(reads() == before)
  }

  test("full refresh, more data, incremental refresh equals one incremental refresh of everything") {
    import spark.implicits._
    def build(): Datastream = {
      val ds = freshDs()
      ds.ensureStream("s1"); ds.ensureStream("s2")
      ds.ensureStream("d:sum", deriveOp = Some("sum"), derivedFrom = Seq("s1", "s2"))
      ds.ensureStream("d:der", deriveOp = Some("derivative"), derivedFrom = Seq("s1"))
      ds.ensureStream("d:rst", deriveOp = Some("counter_reset"), derivedFrom = Seq("s2"))
      ds.ensureStream("d:cdr", deriveOp = Some("counter_derivative"),
        deriveArgs = Some("""{"max_value": 100}"""), derivedFrom = Seq("s2"))
      ds
    }
    // through the snapshot: a bootstrap retires the previous slice's files
    // but leaves them on disk; a Seq, so duplicates would show
    def derivedRows(ds: Datastream) =
      ds.rawDatapoints.where($"stream_id".startsWith("d:"))
        .select("stream_id", "ts", "value")
        .as[(String, java.sql.Timestamp, Double)].collect().toSeq
        .sortBy(r => (r._1, r._2.getTime))
    val first = Seq(
      ("s1", "2024-01-01T00:00:10Z", 1.0), ("s2", "2024-01-01T00:00:20Z", 90.0),
      ("s1", "2024-01-01T00:00:40Z", 5.0), ("s2", "2024-01-01T00:00:50Z", 20.0))
    val more = Seq( // the first new row of each source needs the old predecessor
      ("s1", "2024-01-02T00:00:05Z", 2.0), ("s2", "2024-01-02T00:00:25Z", 10.0),
      ("s2", "2024-01-02T00:01:00Z", 40.0))
    val pastData = ts("2024-01-05T00:00:00Z")
    val a = build()
    a.appendMultiple(dp(first).select("stream_id", "ts", "value"))
    a.updateDerivedStreams()
    a.appendMultiple(dp(more).select("stream_id", "ts", "value"))
    a.updateDerivedStreamsIncremental(pastData)
    val b = build()
    b.appendMultiple(dp(first ++ more).select("stream_id", "ts", "value"))
    b.updateDerivedStreamsIncremental(pastData)
    val merged = derivedRows(a)
    assert(merged === derivedRows(b))
    assert(merged.map(_._1).toSet === Set("d:sum", "d:der", "d:rst", "d:cdr"))
  }

  test("the in-memory registry shows every registry swap at once") {
    val dir = Files.createTempDirectory("graft-ds").toString
    val ds = new Datastream(spark, dir)
    def found(q: Map[String, String]): Set[String] =
      ds.findStreams(q).collect().map(_.getAs[String]("stream_id")).toSet
    ds.ensureStream("a", Map("grp" -> "g", "id" -> "a"))
    assert(found(Map("grp" -> "g")) == Set("a"))
    ds.ensureStreams(Seq(
      StreamMeta("b", Map("grp" -> "g", "id" -> "b"), ValueType.Numeric,
        Seq.empty, Seq.empty, Granularity.Seconds.name),
      StreamMeta("d", Map("id" -> "d"), ValueType.Numeric, Seq.empty, Seq.empty,
        Granularity.Seconds.name, Some("derivative"), None, Seq("a"))))
    assert(found(Map("grp" -> "g")) == Set("a", "b"))
    assert(ds.streamMeta("d").derived_from == Seq("a"))
    ds.appendMultiple(dp(Seq(
      ("a", "2024-01-01T00:00:00Z", 1.0), ("a", "2024-01-01T00:00:10Z", 3.0),
      ("b", "2024-01-01T00:00:05Z", 2.0))).select("stream_id", "ts", "value"))
    assert(ds.streamMeta("a").latest_datapoint.contains(ts("2024-01-01T00:00:10Z")))
    val appended = ds.currentVersion.get
    assert(ds.updateTags(Map("grp" -> "g"), Map("tier" -> "hot")) == 2)
    assert(found(Map("tier" -> "hot")) == Set("a", "b"))
    assert(ds.streamMeta("b").tags.get("tier").contains("hot"))
    assert(ds.removeTags(Map("id" -> "a"), Seq("tier")) == 1)
    assert(found(Map("tier" -> "hot")) == Set("b"))
    ds.downsampleStreams(ts("2024-01-02T00:00:00Z"))
    assert(ds.streamMeta("a").downsampled_until.contains(Granularity.Days.name))
    ds.updateDerivedStreamsIncremental(ts("2024-01-02T00:00:00Z"))
    assert(ds.streamMeta("d").downsampled_until.contains("derived"))
    assert(ds.streamMeta("d").latest_datapoint.contains(ts("2024-01-01T00:00:10Z")))
    // a swap made through a second facade on the same warehouse
    val other = new Datastream(spark, dir)
    assert(other.updateTags(Map("id" -> "b"), Map("by" -> "other")) == 1)
    assert(found(Map("by" -> "other")) == Set("b"))
    assert(ds.streamMeta("b").tags.get("by").contains("other"))
    assert(ds.deleteStreams(Map("id" -> "b")) == 1)
    assert(found(Map("grp" -> "g")) == Set("a"))
    assertThrows[errors.StreamNotFound](ds.streamMeta("b"))
    assertThrows[errors.StreamNotFound](ds.getData("b", Granularity.Seconds))
    // a pinned read resolves the generation its snapshot recorded
    assert(ds.getData("b", Granularity.Seconds, asOfVersion = Some(appended))
      .count() == 1)
    assert(ds.findStreamsAt(Map("grp" -> "g"), appended).count() == 2)
    ds.restore(appended)
    assert(found(Map("grp" -> "g")) == Set("a", "b"))
    assert(found(Map("tier" -> "hot")).isEmpty)
    assert(ds.streamMeta("b").tags.get("by").isEmpty)
    assert(!ds.streamMeta("a").downsampled_until.contains(Granularity.Days.name))
    // the other facade sees the restore too
    assert(other.streamMeta("b").tags.get("tier").isEmpty)
  }

  test("a warehouse wiped and recreated under a live facade is read afresh") {
    val dir = Files.createTempDirectory("graft-ds").toString
    val ds = new Datastream(spark, dir)
    ds.ensureStream("old", Map("era" -> "1"))
    assert(ds.streams.count() == 1)
    val walk = Files.walk(java.nio.file.Paths.get(dir))
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    finally walk.close()
    val fresh = new Datastream(spark, dir)
    fresh.ensureStream("new", Map("era" -> "2"))
    // same generation number as before the wipe, a new marker
    assert(ds.streams.collect().map(_.getAs[String]("stream_id")).toSeq == Seq("new"))
    assertThrows[errors.StreamNotFound](ds.streamMeta("old"))
  }
}
