package graft

import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Snapshot-consistent reads over the commit log's raw-table manifests:
  * a torn append (crash between the raw write and the registry swap /
  * commit rename) must leave readers on the previous committed snapshot —
  * its files exist on disk but are invisible — and later successful
  * mutations must never adopt the orphans. The torn state is constructed
  * on disk exactly as the crashed mutation would have left it: the same
  * partitioned parquet append the facade performs, plus the surviving
  * `.intent` marker (the on-disk contract recovery code sees is the thing
  * under test, not the in-flight JVM).
  */
class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def freshDs = {
    val dir = Files.createTempDirectory("graft-snap").toString
    (new Datastream(spark, dir), dir)
  }

  private def tornAppend(dir: String, rows: Seq[(String, String, Double)]): Unit = {
    // byte-equivalent to the crashed mutation's partial work: the same
    // dp_date-partitioned append appendMultiple runs...
    dp(rows).select(col("stream_id"), col("ts"), col("value"),
        lit(null).cast("string").as("value_json"))
      .withColumn("dp_date", to_date(col("ts")))
      .write.mode(SaveMode.Append).partitionBy("dp_date").parquet(s"$dir/raw")
    // ...plus the intent marker that never reached .commit
    val log = new java.io.File(s"$dir/commitlog")
    log.mkdirs()
    val version = 1L + Option(log.listFiles()).getOrElse(Array.empty[java.io.File])
      .flatMap(_.getName.split('.').headOption.flatMap(_.toLongOption))
      .foldLeft(0L)(math.max)
    java.nio.file.Files.writeString(
      new java.io.File(log, f"$version%09d.intent").toPath,
      s"""{"version":$version,"op":"append"}""")
    ()
  }

  test("torn append is invisible: readers serve the pre-mutation snapshot") {
    val (ds, dir) = freshDs
    ds.ensureStream("s1")
    ds.appendMultiple(dp(Seq(
      ("s1", "2024-01-01T00:00:00Z", 1.0),
      ("s1", "2024-01-01T00:00:01Z", 2.0))).select("stream_id", "ts", "value"))
    assert(ds.rawDatapoints.count() === 2)
    tornAppend(dir, Seq(("s1", "2024-01-01T00:00:02Z", 99.0)))
    // the orphan file IS on disk, under a date partition readers scan
    assert(spark.read.parquet(s"$dir/raw").count() === 3)
    // ...but every read surface stays on the committed snapshot
    assert(ds.rawDatapoints.count() === 2)
    assert(ds.rawDatapoints.agg(sum("value")).first().getDouble(0) === 3.0)
    assert(ds.getData("s1", Granularity.Seconds).count() === 2)
    // and the tear is still detected, exactly as before
    assert(ds.tornOperations === Seq("append"))
  }

  test("a torn first append is invisible: before any commit every read is " +
      "empty, and the first commit publishes and walks only its own scope") {
    def firstCommit(torn: Boolean): (Datastream, Long) = {
      val (ds, dir) = freshDs
      ds.ensureStream("s1")
      if (torn) {
        tornAppend(dir, Seq(("s1", "2024-01-01T00:00:01Z", 99.0)))
        // the orphan file is on disk; no version was ever committed
        assert(spark.read.parquet(s"$dir/raw").count() === 1)
        assert(ds.currentVersion.isEmpty)
        assert(ds.rawDatapoints.count() === 0)
        assert(ds.rawDatapointsWithExtras().count() === 0)
        assert(ds.getData("s1", Granularity.Seconds).count() === 0)
        assert(ds.countDatapoints() === 0L)
        assert(ds.countDatapoints(streamIds = Some(Seq("s1"))) === 0L)
        assert(ds.plannedFiles("raw", None, None).isEmpty)
        assert(ds.tableDetail.count() === 0L)
      }
      ds.walkMeter.set(0L)
      ds.appendMultiple(dp(Seq(("s1", "2024-01-02T00:00:00Z", 5.0)))
        .select("stream_id", "ts", "value"))
      (ds, ds.walkMeter.get())
    }
    val (ds, walked) = firstCommit(torn = true)
    // the first commit publishes only its own rows: the orphan stays out
    assert(ds.rawDatapoints.select("value").as[Double].collect().toSeq === Seq(5.0))
    assert(ds.countDatapoints() === 1L)
    assert(ds.tornOperations === Seq("append"))
    // ...and walks exactly what the same commit walks with no orphan on
    // disk: its declared write scope, never the whole table
    assert(walked === firstCommit(torn = false)._2)
  }

  test("later commits never adopt orphans; vacuum reclaims them") {
    val (ds, dir) = freshDs
    ds.ensureStream("s1")
    ds.appendMultiple(dp(Seq(("s1", "2024-01-01T00:00:00Z", 1.0)))
      .select("stream_id", "ts", "value"))
    tornAppend(dir, Seq(("s1", "2024-01-01T00:00:01Z", 99.0)))
    // a subsequent SUCCESSFUL append commits a new manifest: its own rows
    // appear, the orphan stays invisible (manifest = prev ∪ written, not
    // a directory listing)
    ds.appendMultiple(dp(Seq(("s1", "2024-01-02T00:00:00Z", 5.0)))
      .select("stream_id", "ts", "value"))
    assert(ds.rawDatapoints.select("value").as[Double].collect().sorted.toSeq
      === Seq(1.0, 5.0))
    // vacuum deletes exactly the unreferenced orphan files
    val onDiskBefore = spark.read.parquet(s"$dir/raw").count()
    assert(onDiskBefore === 3)
    assert(ds.vacuumRaw() >= 1L)
    assert(spark.read.parquet(s"$dir/raw").count() === 2)
    assert(ds.rawDatapoints.count() === 2)
  }

  test("maintenance on a torn warehouse downsample reads the snapshot, not the orphans") {
    val (ds, dir) = freshDs
    ds.ensureStream("s1", highestGranularity = Granularity.Minutes)
    ds.appendMultiple(dp(Seq(
      ("s1", "2024-01-01T00:00:00Z", 1.0),
      ("s1", "2024-01-01T00:01:00Z", 2.0))).select("stream_id", "ts", "value"))
    tornAppend(dir, Seq(("s1", "2024-01-01T00:02:00Z", 99.0)))
    ds.downsampleStreams(ts("2024-02-01T00:00:00Z"))
    // rollups built from the committed snapshot only: the 99.0 orphan
    // contributed to no bucket
    val hours = ds.getData("s1", Granularity.Hours).collect()
    assert(hours.length === 1)
    assert(hours.head.getAs[Double]("sum") === 3.0)
    assert(hours.head.getAs[Long]("count") === 2L)
  }

  test("crash mid-delete-purge: readers serve the complete pre-mutation snapshot") {
    val (ds, _) = freshDs
    ds.ensureStream("keep", Map("who" -> "keep"))
    ds.ensureStream("doom", Map("who" -> "doom"))
    ds.appendMultiple(dp(Seq(
      ("keep", "2024-01-01T00:00:00Z", 1.0),
      ("keep", "2024-01-01T00:01:00Z", 2.0),
      ("doom", "2024-01-01T00:00:30Z", 7.0),
      ("doom", "2024-01-02T00:00:00Z", 8.0))).select("stream_id", "ts", "value"))
    ds.downsampleStreams(ts("2024-02-01T00:00:00Z"))
    val rawBefore = ds.rawDatapoints.collect().toSet
    val hoursBefore = ds.rollup(Granularity.Hours).collect().toSet
    // inject the worst-case mid-purge crash: every purge write has landed
    // on disk, neither the registry swap nor the manifest/commit happened
    ds.crashBeforeCommitOf = Set("delete_streams_purge")
    intercept[IllegalStateException] {
      ds.deleteStreams(Map("who" -> "doom"))
    }
    ds.crashBeforeCommitOf = Set.empty
    // every read surface — fact table, rollups, getData — is bit-identical
    // to the pre-mutation snapshot; the rewrite's files are invisible
    assert(ds.rawDatapoints.collect().toSet === rawBefore)
    assert(ds.rollup(Granularity.Hours).collect().toSet === hoursBefore)
    assert(ds.getData("doom", Granularity.Seconds).count() === 2)
    assert(ds.tornOperations === Seq("delete_streams"))
    // remediation: the SAME delete re-run succeeds and both streams settle
    ds.acknowledgeTorn()
    assert(ds.deleteStreams(Map("who" -> "doom")) === 1L)
    assert(ds.rawDatapoints.select("stream_id").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("keep"))
    assert(ds.rollup(Granularity.Hours).select("stream_id").distinct()
      .collect().map(_.getString(0)).toSeq === Seq("keep"))
    // vacuum reclaims the crashed attempt's orphans + the retired originals
    assert(ds.vacuumRaw(retainVersions = 1) >= 1L)
    assert(ds.rawDatapoints.select("stream_id").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("keep"))
  }

  test("crash mid-compaction: readers serve the pre-mutation snapshot; retry compacts") {
    val (ds, _) = freshDs
    ds.ensureStream("s1")
    // two appends into the same dp_date partition → a fat partition
    ds.appendMultiple(dp(Seq(("s1", "2024-01-01T00:00:00Z", 1.0)))
      .select("stream_id", "ts", "value"))
    ds.appendMultiple(dp(Seq(("s1", "2024-01-01T00:00:01Z", 2.0)))
      .select("stream_id", "ts", "value"))
    val before = ds.rawDatapoints.collect().toSet
    ds.crashBeforeCommitOf = Set("compact")
    intercept[IllegalStateException] { ds.compact() }
    ds.crashBeforeCommitOf = Set.empty
    // the compacted file is on disk but uncommitted: readers still see the
    // SAME rows through the pre-mutation file set (no duplicates, no loss)
    assert(ds.rawDatapoints.collect().toSet === before)
    assert(ds.tornOperations === Seq("compact"))
    ds.acknowledgeTorn()
    // retry succeeds; contents are bit-identical; aggressive vacuum leaves
    // exactly the one compacted file per partition
    val stats = ds.compact()
    assert(stats("raw")._2 < stats("raw")._1)
    assert(ds.rawDatapoints.collect().toSet === before)
    assert(ds.vacuumRaw(retainVersions = 1) >= 1L)
    assert(ds.rawDatapoints.collect().toSet === before)
  }

  test("rollup reads prune bucket_date partitions through the manifest file list") {
    val (ds, _) = freshDs
    ds.ensureStream("s1")
    ds.appendMultiple(dp(Seq(
      ("s1", "2024-01-01T00:00:00Z", 1.0),
      ("s1", "2024-01-05T00:00:00Z", 2.0))).select("stream_id", "ts", "value"))
    ds.downsampleStreams(ts("2024-02-01T00:00:00Z"))
    val df = ds.getData("s1", Granularity.Hours,
      start = Some(ts("2024-01-01T00:00:00Z")),
      end = Some(ts("2024-01-02T00:00:00Z")))
    assert(df.collect().map(_.getAs[Double]("sum")).toSeq === Seq(1.0))
    // round 8 moved this read onto the explicit manifest file list — the
    // bucket_date bounds must still land as PARTITION filters, not just
    // row predicates (same pin as the raw-table test above)
    val planText = df.queryExecution.executedPlan.toString
    val partLine = planText.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(partLine.contains("bucket_date"),
      s"bucket_date bounds did not reach PartitionFilters:\n$planText")
  }

  test("commit walk cost stays flat as the raw table accretes files") {
    val (ds, _) = freshDs
    ds.ensureStream("s1")
    // one append per DATE: each commit touches exactly one fresh partition
    def appendOne(i: Int): Long = {
      ds.walkMeter.set(0L)
      ds.appendMultiple(dp(Seq(
        ("s1", f"2024-${1 + i / 28}%02d-${1 + i % 28}%02dT00:00:00Z", i.toDouble)))
        .select("stream_id", "ts", "value"))
      ds.walkMeter.get()
    }
    // warm-up past the first-manifest baseline walk, then measure early
    (0 until 3).foreach(appendOne)
    val early = appendOne(3)
    // accrete 30 more partitions/files, then measure again
    (4 until 34).foreach(appendOne)
    val late = appendOne(34)
    // the append's walk is scoped to its touched partitions: the cost of
    // the 35th append equals the 4th append's, independent of how many
    // files the table now holds (the pre-delta design re-walked ALL files
    // twice per commit, so `late` grew linearly with table size)
    assert(late <= early,
      s"per-append walk cost grew from $early to $late — not O(scope)")
    // and the delta manifests resolve to exactly the full table: every
    // row appended across the 35 commits is served
    assert(ds.rawDatapoints.count() === 35L)
  }

  test("time-range reads prune partitions AND stay on the snapshot") {
    val (ds, dir) = freshDs
    ds.ensureStream("s1")
    ds.appendMultiple(dp(Seq(
      ("s1", "2024-01-01T00:00:00Z", 1.0),
      ("s1", "2024-01-03T00:00:00Z", 2.0))).select("stream_id", "ts", "value"))
    tornAppend(dir, Seq(("s1", "2024-01-01T00:00:05Z", 99.0)))
    val df = ds.getData("s1", Granularity.Seconds,
      start = Some(ts("2024-01-01T00:00:00Z")),
      end = Some(ts("2024-01-02T00:00:00Z")))
    assert(df.collect().map(_.getAs[Double]("value")).toSeq === Seq(1.0))
    // the explicit-file-list read must still PRUNE: the dp_date bounds
    // appear as partition filters on the scan, not just row predicates
    val planText = df.queryExecution.executedPlan.toString
    val partLine = planText.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(partLine.contains("dp_date"),
      s"dp_date bounds did not reach PartitionFilters:\n$planText")
  }

  test("file-level data skipping: manifest ts stats prune files below partition granularity") {
    val (ds, _) = freshDs
    ds.ensureStream("s1")
    // two commits land two files in the SAME dp_date partition with
    // disjoint intra-day time ranges — partition pruning alone cannot
    // separate them, only per-file stats can
    ds.appendMultiple(dp(Seq(("s1", "2024-01-01T00:00:00Z", 1.0)))
      .select("stream_id", "ts", "value"))
    ds.appendMultiple(dp(Seq(("s1", "2024-01-01T12:00:00Z", 2.0)))
      .select("stream_id", "ts", "value"))
    val all = ds.plannedFiles("raw", None, None)
    assert(all.size === 2)
    val morning = ds.plannedFiles("raw",
      Some(ts("2024-01-01T00:00:00Z")), Some(ts("2024-01-01T01:00:00Z")))
    assert(morning.size === 1,
      s"stats skipping kept ${morning.size} of 2 files: $morning")
    // the skipped plan still answers the range read correctly
    val got = ds.getData("s1", Granularity.Seconds,
      start = Some(ts("2024-01-01T00:00:00Z")),
      end = Some(ts("2024-01-01T01:00:00Z")))
    assert(got.collect().map(_.getAs[Double]("value")).toSeq === Seq(1.0))
    // a compaction rewrite regenerates stats for its fresh files: skipping
    // keeps working after the whole partition is rewritten into one file
    ds.compact()
    val afterCompact = ds.plannedFiles("raw",
      Some(ts("2024-01-01T00:00:00Z")), Some(ts("2024-01-01T01:00:00Z")))
    assert(afterCompact.size === 1)
    assert(ds.getData("s1", Granularity.Seconds).count() === 2L)
  }

  test("stream-id data skipping: single-stream reads prune files by manifest sid bounds") {
    val (ds, _) = freshDs
    ds.ensureStream("aaa")
    ds.ensureStream("zzz")
    // same date, SAME second — neither dp_date partitions nor ts stats can
    // separate these two commits' files; only the stream-id bounds can
    ds.appendMultiple(dp(Seq(("aaa", "2024-01-01T00:00:00Z", 1.0)))
      .select("stream_id", "ts", "value"))
    ds.appendMultiple(dp(Seq(("zzz", "2024-01-01T00:00:00Z", 2.0)))
      .select("stream_id", "ts", "value"))
    assert(ds.plannedFiles("raw", None, None).size === 2)
    val one = ds.plannedFiles("raw", None, None, Some(Seq("aaa")))
    assert(one.size === 1, s"sid skipping kept ${one.size} of 2 files: $one")
    // a stream id outside every file's bounds plans zero files
    assert(ds.plannedFiles("raw", None, None, Some(Seq("mmm"))).isEmpty)
    // and the single-stream read stays correct through the pruned plan
    assert(ds.getData("aaa", Granularity.Seconds).collect()
      .map(_.getAs[Double]("value")).toSeq === Seq(1.0))
  }

  test("multi-stream data skipping: a 2-stream tag selection plans strictly fewer files") {
    val (ds, _) = freshDs
    // five streams, five commits, same date AND second: only sid bounds
    // can separate the five files — the exact J1 tag-scan shape
    val sids = Seq("app:a", "app:b", "app:c", "app:d", "app:e")
    sids.zipWithIndex.foreach { case (s, i) =>
      ds.ensureStream(s, Map("name" -> s.stripPrefix("app:"),
        "grp" -> (if (i < 2) "hot" else "cold")))
      ds.appendMultiple(dp(Seq((s, "2024-01-01T00:00:00Z", i.toDouble)))
        .select("stream_id", "ts", "value"))
    }
    val all = ds.plannedFiles("raw", None, None)
    assert(all.size === 5)
    // the stream-id SET plans exactly the two matching files
    val two = ds.plannedFiles("raw", None, None, Some(Seq("app:a", "app:b")))
    assert(two.size === 2, s"expected 2 of 5 files, planned: $two")
    assert(two.subsetOf(all))
    // sorted-bounds overlap, not equality: an id BETWEEN two files' bounds
    // (each file here is single-stream, min = max) plans zero files
    assert(ds.plannedFiles("raw", None, None, Some(Seq("app:ab"))).isEmpty)
    // the public tag-scan read is exact through the pruned plan
    val hot = ds.datapointsForStreams(Map("grp" -> "hot"))
    assert(hot.select("value").collect().map(_.getDouble(0)).sorted.toSeq
      === Seq(0.0, 1.0))
  }

  test("Catalyst FileIndex: ad-hoc pushed filters prune manifest files with no facade hint") {
    val (ds, _) = freshDs
    ds.ensureStream("aaa")
    ds.ensureStream("zzz")
    // two commits, same dp_date partition, separable by ts stats AND by
    // sid bounds — but this test never passes a facade hint: the pruning
    // must come from Catalyst pushing the .where into the FileIndex
    ds.appendMultiple(dp(Seq(("aaa", "2024-01-01T00:00:00Z", 1.0)))
      .select("stream_id", "ts", "value"))
    ds.appendMultiple(dp(Seq(("zzz", "2024-01-01T12:00:00Z", 2.0)))
      .select("stream_id", "ts", "value"))
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def rawIndex(df: org.apache.spark.sql.DataFrame): graft.plans.GraftFileIndex =
      df.queryExecution.optimizedPlan.collect {
        case l: LogicalRelation => l.relation
      }.collect { case r: HadoopFsRelation => r.location }
        .collect { case i: graft.plans.GraftFileIndex => i }.head
    // unfiltered: both files plan
    val all = ds.rawDatapoints
    assert(all.count() === 2L)
    assert(rawIndex(all).lastPlanned.size === 2)
    // ad-hoc time predicate → manifest ts stats prune to one file
    val morning = ds.rawDatapoints
      .where(col("ts") <= lit(ts("2024-01-01T01:00:00Z")))
    assert(morning.collect().map(_.getAs[Double]("value")).toSeq === Seq(1.0))
    assert(rawIndex(morning).lastPlanned.size === 1,
      s"ts pushdown planned ${rawIndex(morning).lastPlanned}")
    // ad-hoc stream equality → sid bounds prune to one file
    val zzz = ds.rawDatapoints.where(col("stream_id") === "zzz")
    assert(zzz.collect().map(_.getAs[Double]("value")).toSeq === Seq(2.0))
    assert(rawIndex(zzz).lastPlanned.size === 1,
      s"sid pushdown planned ${rawIndex(zzz).lastPlanned}")
    // an IN set covering both keeps both; an unknown id plans zero files
    val none = ds.rawDatapoints.where(col("stream_id") === "mmm")
    assert(none.count() === 0L)
    assert(rawIndex(none).lastPlanned.isEmpty)
    // an OR predicate must NOT prune (conservative extraction), but stays
    // correct
    val or = ds.rawDatapoints.where(col("stream_id") === "aaa" ||
      col("ts") >= lit(ts("2024-01-01T06:00:00Z")))
    assert(or.count() === 2L)
    assert(rawIndex(or).lastPlanned.size === 2)
  }

  test("snapshot reads synthesize file statuses from manifest lengths — zero plan-time listing") {
    val (ds, _) = freshDs
    ds.ensureStream("s1")
    ds.appendMultiple(dp(Seq(("s1", "2024-01-01T00:00:00Z", 1.0)))
      .select("stream_id", "ts", "value"))
    ds.appendMultiple(dp(Seq(("s1", "2024-01-02T00:00:00Z", 2.0)))
      .select("stream_id", "ts", "value"))
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val df = ds.rawDatapoints
    val idx = df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation
    }.collect { case r: HadoopFsRelation => r.location }
      .collect { case i: graft.plans.GraftFileIndex => i }.head
    val sts = idx.listFiles(Nil, Nil).flatMap(_.files)
    assert(sts.size === 2)
    // every status is SYNTHESIZED from the manifest's len= field (mtime 0,
    // the synthetic marker) and carries the file's TRUE byte length
    assert(sts.forall(_.fileStatus.getModificationTime === 0L),
      "a snapshot file fell back to FS listing — its manifest carries no len")
    sts.foreach { f =>
      val onDisk = new java.io.File(f.getPath.toUri.getPath).length
      assert(f.fileStatus.getLen === onDisk,
        s"manifest length ${f.fileStatus.getLen} != on-disk $onDisk for ${f.getPath}")
    }
    // and the scan reads correctly through the synthetic statuses
    assert(df.count() === 2L)
  }

  test("sid bloom skips a multi-stream file whose [min,max] bounds admit the queried id") {
    val (ds, _) = freshDs
    ds.ensureStream("aaa")
    ds.ensureStream("zzz")
    // ONE commit, ONE file, both streams ⇒ the file's sid bounds are
    // [aaa, zzz] — bounds alone CANNOT skip a query for mmm; only the
    // dictionary-page bloom knows mmm is absent. Several rows per stream:
    // parquet keeps a dictionary only when it compresses (an all-unique
    // column falls back to PLAIN and such files simply carry no bloom)
    ds.appendMultiple(dp(Seq(
      ("aaa", "2024-01-01T00:00:00Z", 1.0),
      ("aaa", "2024-01-01T00:00:01Z", 2.0),
      ("aaa", "2024-01-01T00:00:02Z", 3.0),
      ("zzz", "2024-01-01T00:00:00Z", 4.0),
      ("zzz", "2024-01-01T00:00:01Z", 5.0),
      ("zzz", "2024-01-01T00:00:02Z", 6.0)))
      .select("stream_id", "ts", "value").coalesce(1))
    val all = ds.plannedFiles("raw", None, None)
    // precondition: ONE file holding BOTH streams (else bounds would skip)
    assert(all.size === 1)
    assert(ds.plannedFiles("raw", None, None, Some(Seq("mmm"))).isEmpty,
      "bloom failed to skip an id inside the bounds but absent from the file")
    // both resident streams still plan their file and read correctly
    assert(ds.plannedFiles("raw", None, None, Some(Seq("aaa"))) === all)
    assert(ds.getData("zzz", Granularity.Seconds).collect()
      .map(_.getAs[Double]("value")).toSeq === Seq(4.0, 5.0, 6.0))
  }

  test("sid stats survive hostile ASCII stream ids (tabs, %, spaces) via URL encoding") {
    val (ds, _) = freshDs
    // ASCII control/format characters that would corrupt a naive TSV
    // manifest line: tab (the field separator), %, space, '='
    val weird = "we ird%\tid="
    ds.ensureStream(weird)
    ds.ensureStream("plain")
    ds.appendMultiple(dp(Seq((weird, "2024-01-01T00:00:00Z", 1.0)))
      .select("stream_id", "ts", "value"))
    ds.appendMultiple(dp(Seq(("plain", "2024-01-01T00:00:00Z", 2.0)))
      .select("stream_id", "ts", "value"))
    // the manifest parsed back cleanly (a torn line would lose coverage)
    assert(ds.rawDatapoints.count() === 2)
    // sid bounds round-tripped: each single-stream read plans ONE file
    assert(ds.plannedFiles("raw", None, None, Some(Seq(weird))).size === 1)
    assert(ds.plannedFiles("raw", None, None, Some(Seq("plain"))).size === 1)
    assert(ds.getData(weird, Granularity.Seconds).collect()
      .map(_.getAs[Double]("value")).toSeq === Seq(1.0))
  }

  test("manifests below the format floor are refused with nothing written") {
    val (ds, dir) = freshDs
    ds.ensureStream("s1")
    ds.append("s1", 1.0, ts("2024-01-01T00:10:00Z"))
    ds.downsampleStreams(ts("2024-02-01T00:00:00Z"))
    val v = ds.currentVersion.get
    val manifests = new java.io.File(s"$dir/commitlog").listFiles()
      .filter(_.getName.endsWith(".manifest")).toSeq
    val good = manifests.map(f => f -> Files.readString(f.toPath))
    // a header-less file list, a v2 header, and `tables=` lists that miss
    // the rollup tables: what engines before the format floor wrote
    Seq[String => String](
      _ => "raw/dp_date=2024-01-01/part-0.parquet\n",
      _.replaceFirst("#graft v3 ", "#graft v2 "),
      _.replaceFirst(",rollup/granularity=[^ \n]*", "")).foreach { forge =>
      good.foreach { case (f, txt) => Files.writeString(f.toPath, forge(txt)) }
      val before = treeOf(dir)
      val old = new Datastream(spark, dir)
      Seq[() => Any](
        () => old.rawDatapoints.count(),
        () => old.rollupAt(Granularity.Hours, v),
        () => old.append("s1", 2.0, ts("2024-01-01T00:20:00Z")),
        () => old.vacuumRaw()).foreach { op =>
        intercept[errors.UnsupportedFormat](op())
      }
      assert(treeOf(dir) == before)
    }
  }

  test("registry time travel: as-of metadata pins tags, existence and getData validation") {
    val (ds, _) = freshDs
    ds.ensureStream("s", Map("team" -> "alpha"))
    ds.ensureStream("gone", Map("who" -> "doom"))
    ds.appendMultiple(dp(Seq(
      ("s", "2024-01-01T00:00:00Z", 1.0),
      ("gone", "2024-01-01T00:00:30Z", 7.0))).select("stream_id", "ts", "value"))
    val v = ds.currentVersion.get
    // metadata mutations after the capture: a tag rewrite and a delete
    assert(ds.updateTags(Map("team" -> "alpha"), Map("team" -> "beta")) === 1L)
    assert(ds.deleteStreams(Map("who" -> "doom")) === 1L)
    // as-of registry: original tag value, deleted stream still present
    assert(ds.findStreamsAt(Map("team" -> "alpha"), v).count() === 1L)
    assert(ds.findStreamsAt(Map("team" -> "beta"), v).count() === 0L)
    assert(ds.streamsAt(v).where(col("stream_id") === "gone").count() === 1L)
    // current registry reflects both mutations
    assert(ds.findStreams(Map("team" -> "beta")).count() === 1L)
    assert(ds.streams.where(col("stream_id") === "gone").count() === 0L)
    // getData(asOfVersion) resolves METADATA as-of too: the deleted
    // stream is readable at the pin, gone from the live read path
    assert(ds.getData("gone", Granularity.Seconds, asOfVersion = Some(v))
      .count() === 1L)
    intercept[errors.StreamNotFound] { ds.getData("gone", Granularity.Seconds) }
    // generations referenced by a retained manifest survive later swaps
    ds.ensureStream("later")
    assert(ds.findStreamsAt(Map("team" -> "alpha"), v).count() === 1L)
    // the TAG-SCAN read composes both pins: the as-of registry resolves
    // the query (doomed stream still matches) and the as-of snapshot
    // serves its data; the live read matches nothing
    assert(ds.datapointsForStreams(Map("who" -> "doom"), asOfVersion = Some(v))
      .select("value").collect().map(_.getDouble(0)).toSeq === Seq(7.0))
    assert(ds.datapointsForStreams(Map("who" -> "doom")).count() === 0L)
  }

  test("time travel: as-of reads pin the snapshot across append, delete and rollup maintenance") {
    val (ds, _) = freshDs
    ds.ensureStream("keep", Map("who" -> "keep"))
    ds.ensureStream("doom", Map("who" -> "doom"))
    ds.appendMultiple(dp(Seq(
      ("keep", "2024-01-01T00:00:00Z", 1.0),
      ("doom", "2024-01-01T00:00:30Z", 7.0))).select("stream_id", "ts", "value"))
    val v1 = ds.currentVersion.get
    ds.appendMultiple(dp(Seq(("keep", "2024-01-02T00:00:00Z", 2.0)))
      .select("stream_id", "ts", "value"))
    ds.downsampleStreams(ts("2024-02-01T00:00:00Z"))
    val v2 = ds.currentVersion.get
    assert(ds.deleteStreams(Map("who" -> "doom")) === 1L)
    // v1: both streams' first points, nothing else
    assert(ds.rawDatapointsAt(v1).select("value").as[Double].collect().sorted.toSeq
      === Seq(1.0, 7.0))
    // v1 predates maintenance: no rollup buckets existed yet
    assert(ds.rollupAt(Granularity.Hours, v1).count() === 0L)
    // v2: the purged stream's buckets are still served as of v2, and the
    // getData read path accepts the same pin
    assert(ds.rollupAt(Granularity.Hours, v2)
      .where(col("stream_id") === "doom").count() === 1L)
    assert(ds.getData("keep", Granularity.Seconds, asOfVersion = Some(v1)).count() === 1L)
    // current reads reflect the delete
    assert(ds.rawDatapoints.select("stream_id").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("keep"))
    // a version outside the retained window fails loudly
    val err = intercept[IllegalArgumentException] { ds.rawDatapointsAt(v2 + 1000L) }
    assert(err.getMessage.contains("time travel"))
    // DESCRIBE HISTORY analog: ops in commit order, versions resolvable
    val hist = ds.history
    assert(hist.map(_._1) === hist.map(_._1).sorted)
    assert(hist.map(_._2).contains("append") && hist.map(_._2).contains("delete_streams"))
    assert(hist.exists { case (v, op, _) => v === v1 && op === "append" })
    // the registry generation rides each version — delete_streams swapped
    // the registry, so its recorded generation must exceed the append's
    val gOf = (op: String) => hist.find(_._2 == op).flatMap(_._3)
    assert(gOf("append").isDefined && gOf("delete_streams").isDefined)
    assert(gOf("delete_streams").get > gOf("append").get)
    // aggressive vacuum reclaims v2's retired files: the pinned read now
    // fails at planning (missing path) rather than serving partial rows
    assert(ds.vacuumRaw(retainVersions = 1) >= 1L)
    intercept[Exception] {
      ds.rawDatapointsAt(v2).where(col("stream_id") === "doom").count()
    }
    ()
  }

  test("changefeed: catch-up reads only newly-added files; rewrites fail " +
      "loudly unless skipped; replay from 0 reconstructs the table") {
    val (ds, _) = freshDs
    ds.ensureStream("a", Map("who" -> "a"))
    ds.ensureStream("b", Map("who" -> "b"))
    ds.appendMultiple(dp(Seq(
      ("a", "2024-01-01T00:00:00Z", 1.0),
      ("b", "2024-01-01T00:00:30Z", 7.0))).select("stream_id", "ts", "value"))
    val cursor = ds.currentVersion.get
    // two more appends into ONE date partition → fragmentation, so the
    // later compaction genuinely rewrites (adds AND removes) fact files
    ds.appendMultiple(dp(Seq(("a", "2024-01-02T00:00:00Z", 2.0)))
      .select("stream_id", "ts", "value"))
    ds.appendMultiple(dp(Seq(("b", "2024-01-02T00:01:00Z", 3.0)))
      .select("stream_id", "ts", "value"))
    // catch-up: exactly the two appended rows, each attributed to its commit
    val ch = ds.readChanges(cursor).collect()
      .map(r => (r.getAs[String]("stream_id"), r.getAs[Double]("value"),
        r.getAs[Long]("_commit_version"), r.getAs[String]("_commit_op")))
      .sortBy(_._2).toSeq
    assert(ch === Seq(("a", 2.0, cursor + 1, "append"),
      ("b", 3.0, cursor + 2, "append")))
    // empty range: empty frame, change schema intact
    assert(ds.readChanges(ds.currentVersion.get).count() === 0L)
    assert(ds.readChanges(ds.currentVersion.get).columns.toSeq.takeRight(2)
      === Seq("_commit_version", "_commit_op"))
    // a rewrite commit inside the range fails loudly by default...
    ds.compact()
    val err = intercept[IllegalStateException] { ds.readChanges(cursor) }
    assert(err.getMessage.contains("skipChangeCommits"))
    // ...and is skipped wholesale when asked: same two rows, no doubles
    assert(ds.readChanges(cursor, skipChangeCommits = true)
      .select("value").as[Double].collect().sorted.toSeq === Seq(2.0, 3.0))
    // replay from 0 across the append-only prefix reconstructs the table
    assert(ds.readChanges(0L, skipChangeCommits = true)
      .select("value").as[Double].collect().sorted.toSeq
      === Seq(1.0, 2.0, 3.0, 7.0))
    // cursor/bound validation fails loudly on unknown versions
    intercept[IllegalArgumentException] { ds.readChanges(999L) }
    intercept[IllegalArgumentException] {
      ds.readChanges(cursor, toVersion = Some(999L)) }
    ()
  }

  test("rollup changefeed: maintenance commits surface newly finalized " +
      "buckets only; append-only raw feed stays empty over the same range") {
    val (ds, _) = freshDs
    ds.ensureStream("a")
    ds.appendMultiple(dp(Seq(
      ("a", "2024-01-01T00:00:10Z", 1.0),
      ("a", "2024-01-01T00:01:10Z", 2.0),
      ("a", "2024-01-01T00:02:10Z", 3.0))).select("stream_id", "ts", "value"))
    ds.downsampleStreams(ts("2024-01-01T00:01:00Z")) // finalizes bucket :00
    val cursor = ds.currentVersion.get
    ds.downsampleStreams(ts("2024-01-01T00:03:00Z")) // finalizes :01, :02
    val ch = ds.readRollupChanges(Granularity.Minutes, cursor)
    assert(ch.select("bucket_start").collect()
      .map(_.getTimestamp(0).toInstant.toString).sorted.toSeq
      === Seq("2024-01-01T00:01:00Z", "2024-01-01T00:02:00Z"))
    assert(ch.select("_commit_op").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("downsample"))
    // no fact files landed in the range: the raw feed over it is empty
    assert(ds.readChanges(cursor).count() === 0L)
    // replay from 0 serves the whole minutes rollup, both commits
    assert(ds.readRollupChanges(Granularity.Minutes, 0L).count() === 3L)
    ()
  }

  test("replicateTo: exactly-once incremental raw replication — re-runs " +
      "converge, compaction is skipped, deletes fail loudly unless opted") {
    val (src, _) = freshDs
    val (dst, _) = freshDs
    src.ensureStream("a", Map("who" -> "a"))
    src.ensureStream("b", Map("who" -> "b"))
    src.appendMultiple(dp(Seq(
      ("a", "2024-01-01T00:00:00Z", 1.0),
      ("b", "2024-01-01T00:00:30Z", 7.0))).select("stream_id", "ts", "value"))
    assert(src.replicateTo(dst) === 1L)
    // registry synced (tags travel), data identical
    assert(dst.findStreams(Map("who" -> "b")).count() === 1L)
    assert(dst.rawDatapoints.select("value").as[Double].collect()
      .sorted.toSeq === Seq(1.0, 7.0))
    // a second append + a compaction: one commit applies, compact skips
    src.appendMultiple(dp(Seq(("a", "2024-01-02T00:00:00Z", 2.0)))
      .select("stream_id", "ts", "value"))
    src.compact()
    assert(src.replicateTo(dst) === 1L)
    assert(dst.rawDatapoints.select("value").as[Double].collect()
      .sorted.toSeq === Seq(1.0, 2.0, 7.0))
    // idempotent: nothing new to apply; replica unchanged
    assert(src.replicateTo(dst) === 0L)
    assert(dst.rawDatapoints.count() === 3L)
    // a delete-bearing commit fails the run loudly...
    assert(src.deleteStreams(Map("who" -> "b")) === 1L)
    val err = intercept[IllegalStateException] { src.replicateTo(dst) }
    assert(err.getMessage.contains("skipChangeCommits"))
    // ...and the opt-in makes an insert-only follower: the delete does
    // not propagate, and later appends still flow
    src.appendMultiple(dp(Seq(("a", "2024-01-03T00:00:00Z", 3.0)))
      .select("stream_id", "ts", "value"))
    assert(src.replicateTo(dst, skipChangeCommits = true) === 1L)
    assert(dst.rawDatapoints.select("value").as[Double].collect()
      .sorted.toSeq === Seq(1.0, 2.0, 3.0, 7.0))
    ()
  }

  test("replicateTo: registry sync is chunk-bounded — more missing specs " +
      "than maxSyncStreams still converge without a full-registry collect") {
    val (src, _) = freshDs
    val (dst, _) = freshDs
    (0 until 7).foreach(i =>
      src.ensureStream(s"s$i", Map("who" -> s"s$i", "grp" -> (i % 2).toString)))
    src.appendMultiple(dp((0 until 7).map(i =>
      (s"s$i", "2024-01-01T00:00:00Z", i.toDouble)))
      .select("stream_id", "ts", "value"))
    // 7 missing specs, chunks of 3 → three ensure rounds, then the data
    assert(src.replicateTo(dst, maxSyncStreams = 3) === 1L)
    assert(dst.streams.count() === 7L)
    assert(dst.findStreams(Map("grp" -> "1")).count() === 3L)
    assert(dst.rawDatapoints.select("value").as[Double].collect()
      .sorted.toSeq === (0 until 7).map(_.toDouble))
    // idempotent re-run: registry already synced, nothing applied
    assert(src.replicateTo(dst, maxSyncStreams = 3) === 0L)
    intercept[IllegalArgumentException] {
      src.replicateTo(dst, maxSyncStreams = 0) }
    ()
  }

  test("restore: rolls data AND registry back to a snapshot by log " +
      "manipulation alone; history preserved; restore is restorable") {
    val (ds, _) = freshDs
    ds.ensureStream("a", Map("team" -> "alpha"))
    ds.appendMultiple(dp(Seq(("a", "2024-01-01T00:00:00Z", 1.0)))
      .select("stream_id", "ts", "value"))
    val v1 = ds.currentVersion.get
    // registry-only mutations never commit a manifest version, so they
    // must land BEFORE the append whose manifest should record them
    ds.ensureStream("b", Map("team" -> "beta"))
    ds.updateTags(Map("team" -> "alpha"), Map("team" -> "gamma"))
    ds.appendMultiple(dp(Seq(
      ("a", "2024-01-02T00:00:00Z", 2.0),
      ("b", "2024-01-02T00:00:30Z", 3.0))).select("stream_id", "ts", "value"))
    val vPre = ds.currentVersion.get
    ds.restore(v1)
    // data exactly as of v1
    assert(ds.rawDatapoints.select("value").as[Double].collect().toSeq
      === Seq(1.0))
    // registry rolled back with it: the rename undone, stream b gone
    assert(ds.findStreams(Map("team" -> "alpha")).count() === 1L)
    assert(ds.findStreams(Map("team" -> "gamma")).count() === 0L)
    assert(ds.streams.where(col("stream_id") === "b").count() === 0L)
    // the restore is one commit and the pre-restore state stays a
    // time-travel target — a mistaken restore loses nothing
    assert(ds.history.last._2 === "restore")
    assert(ds.rawDatapointsAt(vPre).select("value").as[Double].collect()
      .sorted.toSeq === Seq(1.0, 2.0, 3.0))
    // ...and is itself restorable: forward to the pre-restore snapshot
    ds.restore(vPre)
    assert(ds.rawDatapoints.select("value").as[Double].collect()
      .sorted.toSeq === Seq(1.0, 2.0, 3.0))
    assert(ds.findStreams(Map("team" -> "gamma")).count() === 1L)
    assert(ds.streams.where(col("stream_id") === "b").count() === 1L)
    // a version outside the retained window fails loudly, nothing commits
    val before = ds.history.length
    intercept[IllegalArgumentException] { ds.restore(9999L) }
    assert(ds.history.length === before)
    ()
  }

  test("z-order compaction: clustered files skip on BOTH the stream and " +
      "time dimensions; data bit-identical") {
    val (ds, _) = freshDs
    val sids = (0 until 4).map(i => s"s$i")
    sids.foreach(s => ds.ensureStream(s))
    // 4 streams × 64 points interleaved across ONE day — a single dp_date
    // partition, so only file-level stats can prune anything. 1350 s
    // stride × 64 spans the day exactly; +k keeps (sid, ts) unique.
    val t0 = Instant.parse("2024-01-01T00:00:00Z")
    val rows = for (i <- 0 until 64; (s, k) <- sids.zipWithIndex)
      yield (s, t0.plusSeconds(i.toLong * 1350 + k).toString, (i + k).toDouble)
    ds.appendMultiple(dp(rows).select("stream_id", "ts", "value").coalesce(1))
    val before = ds.rawDatapoints
      .agg(count(lit(1)), sum("value")).first()
    val (was, now) = ds.compactZOrder(maxRecordsPerFile = 64)
    assert(was === 1L)
    assert(now >= 4L, s"expected >= 4 clustered files, got $now")
    val all = ds.plannedFiles("raw", None, None)
    assert(all.size === now.toInt)
    // one stream: the z-layout confines each sid to a subset of files
    // (bounds + per-file bloom), so strictly fewer files plan
    val oneSid = ds.plannedFiles("raw", None, None, Some(Seq("s0")))
    assert(oneSid.size < all.size,
      s"sid skipping kept ${oneSid.size} of ${all.size}")
    // a narrow intra-day slice: strictly fewer files on the ts dimension
    val slice = ds.plannedFiles("raw",
      Some(ts("2024-01-01T03:00:00Z")), Some(ts("2024-01-01T06:00:00Z")))
    assert(slice.size < all.size,
      s"ts skipping kept ${slice.size} of ${all.size}")
    // both dimensions together prune at least as hard as either alone
    val bothDims = ds.plannedFiles("raw",
      Some(ts("2024-01-01T03:00:00Z")), Some(ts("2024-01-01T06:00:00Z")),
      Some(Seq("s0")))
    assert(bothDims.size <= math.min(oneSid.size, slice.size))
    // the rewrite changed layout only: row count and sum are identical,
    // and a ranged single-stream read still answers exactly
    val after = ds.rawDatapoints.agg(count(lit(1)), sum("value")).first()
    assert(after === before)
    assert(ds.getData("s0", Granularity.Seconds,
      start = Some(ts("2024-01-01T03:00:00Z")),
      end = Some(ts("2024-01-01T06:00:00Z")), endExclusive = true)
      .count() === 8L) // 1350s stride: i = 8..15 land in [3h, 6h)
    // INCREMENTAL scope (OPTIMIZE ... WHERE): a second day lands; a
    // date-bounded rewrite touches only it — day-1's clustered files
    // survive verbatim
    ds.appendMultiple(dp(Seq(
      ("s0", "2024-01-05T00:00:00Z", 1.0),
      ("s1", "2024-01-05T01:00:00Z", 2.0)))
      .select("stream_id", "ts", "value").coalesce(1))
    val preScoped = ds.plannedFiles("raw", None, None)
    val (was2, now2) = ds.compactZOrder(maxRecordsPerFile = 1,
      start = Some(ts("2024-01-05T00:00:00Z")),
      end = Some(ts("2024-01-05T23:59:59Z")))
    assert(was2 === 1L)
    assert(now2 === 2L)
    val postScoped = ds.plannedFiles("raw", None, None)
    assert(preScoped.filter(_.startsWith("dp_date=2024-01-01")) ===
      postScoped.filter(_.startsWith("dp_date=2024-01-01")))
    assert(ds.rawDatapoints.count() === 258L)
    // an out-of-scope OPTIMIZE is a true no-op: no commit version spent
    val vBefore = ds.currentVersion
    assert(ds.compactZOrder(start = Some(ts("2030-01-01T00:00:00Z"))) ===
      ((0L, 0L)))
    assert(ds.currentVersion === vBefore)
    ()
  }

  test("tag-stripped manifests (foreign/legacy writer): counts and reads " +
      "fall back to scanning, bit-identical results") {
    val (ds, dir) = freshDs
    ds.ensureStream("s1")
    ds.appendMultiple(dp(Seq(
      ("s1", "2024-01-01T00:00:00Z", 1.0),
      ("s1", "2024-01-02T00:00:00Z", 2.0))).select("stream_id", "ts", "value"))
    // strip every tagged field (len=, rows=) from the committed manifest —
    // the line shape a pre-tag writer produces
    val log = new java.io.File(s"$dir/commitlog")
    for (f <- log.listFiles() if f.getName.endsWith(".manifest")) {
      val txt = java.nio.file.Files.readString(f.toPath)
      val stripped = txt.split('\n').map(
        _.split('\t').filterNot(t =>
          t.startsWith("len=") || t.startsWith("rows=")).mkString("\t"))
        .mkString("\n")
      java.nio.file.Files.writeString(f.toPath, stripped)
    }
    // a FRESH facade re-parses from disk (caches are per-instance)
    val ds2 = new Datastream(spark, dir)
    // rows= gone → the count scans, still exact; len= gone → statuses come
    // from a real listing, reads still serve
    assert(ds2.countDatapoints() === 2L)
    assert(ds2.countDatapoints(Some(ts("2024-01-01T00:00:00Z")),
      Some(ts("2024-01-01T23:00:00Z"))) === 1L)
    assert(ds2.rawDatapoints.count() === 2L)
    // ts bounds are positional, not tagged — skipping still works
    assert(ds2.plannedFiles("raw", Some(ts("2024-01-01T00:00:00Z")),
      Some(ts("2024-01-01T23:00:00Z"))).size === 1)
    // a NEWER writer's extra positional field must not drop the file from
    // the snapshot: committed data outranks an unparseable stat
    for (f <- log.listFiles() if f.getName.endsWith(".manifest")) {
      val txt = java.nio.file.Files.readString(f.toPath)
      val extended = txt.split('\n').map(l =>
        if (l.startsWith("+raw\t")) l + "\tfuturestat" else l).mkString("\n")
      java.nio.file.Files.writeString(f.toPath, extended)
    }
    val ds3 = new Datastream(spark, dir)
    assert(ds3.rawDatapoints.count() === 2L)
    assert(ds3.countDatapoints() === 2L)
    ()
  }

  test("z-key scaling and Morton spread: strictly monotone per dimension, " +
      "even-bit lanes, full 16-bit reach on both domain branches") {
    val (ds, _) = freshDs
    import spark.implicits._
    val xs = Seq(0L, 1L, 2L, 255L, 256L, 32767L, 65535L)
    val spreadVals = xs.toDF("x")
      .select(ds.zSpread(col("x"))).as[Long].collect().toSeq
    // strictly monotone (so per-dimension order survives the interleave)
    assert(spreadVals.sliding(2).forall(p => p.length < 2 || p(0) < p(1)))
    // all bits land on even lanes — the other dimension's lanes stay free
    assert(spreadVals.forall(v => (v & 0xAAAAAAAAL) == 0L))
    assert(spreadVals.last === 0x55555555L)
    // small-domain branch: multiply-then-div fills the TOP key bits
    val small = Seq(0L, 1L, 2L, 3L).toDF("x")
      .selectExpr(ds.zKey16("x", 4L)).as[Long].collect().toSeq
    assert(small === Seq(0L, 16384L, 32768L, 49152L))
    // large-domain branch: bucket div, clamped, reaches 65535 at the top
    val dom = 1L << 40
    val big = Seq(0L, dom / 2, dom - 1).toDF("x")
      .selectExpr(ds.zKey16("x", dom)).as[Long].collect().toSeq
    assert(big.head === 0L)
    assert(big(1) === 32768L)
    assert(big(2) === 65535L)
    // the (2^16, 2^17) band: FLOOR bucketing used to floor the bucket to 1
    // and `least(..,65535)` collapsed the whole upper half of the value
    // space onto ONE saturated key — the ceiling bucket (2 here) spreads
    // every value with zero saturation (max key 34999 < 65535)
    val band = Seq(0L, 65535L, 65536L, 69999L).toDF("x")
      .selectExpr(ds.zKey16("x", 70000L)).as[Long].collect().toSeq
    assert(band === Seq(0L, 32767L, 32768L, 34999L))
    ()
  }

  test("commit CAS: a foreign intent stealing the version re-allocates; " +
      "exactly one owner per version and the commit still lands") {
    val (ds, dir) = freshDs
    ds.ensureStream("s1")
    ds.append("s1", 1.0, ts("2024-01-01T00:00:00Z"))
    val log = new java.io.File(s"$dir/commitlog")
    def names() = Option(log.listFiles()).getOrElse(Array.empty[java.io.File])
      .map(_.getName).sorted.toSeq
    def nextV() = 1L + names()
      .flatMap(_.split('.').headOption.flatMap(_.toLongOption))
      .foldLeft(0L)(math.max)
    // the foreign writer wins the CAS on the exact version this commit is
    // about to claim — injected in the listing→create window
    var stolen = -1L
    ds.commitRaceInjection = () => {
      stolen = nextV()
      java.nio.file.Files.writeString(
        new java.io.File(log, f"$stolen%09d.intent").toPath,
        s"""{"version":$stolen,"op":"foreign_append"}""")
      ds.commitRaceInjection = () => ()
    }
    ds.append("s1", 2.0, ts("2024-01-01T00:01:00Z"))
    // the loser re-allocated PAST the stolen number: its commit landed at
    // stolen+1 and the foreign intent was never touched
    assert(names().contains(f"${stolen + 1}%09d.commit"))
    assert(names().contains(f"$stolen%09d.intent"))
    assert(!names().contains(f"$stolen%09d.commit"))
    // both rows serve; the stranded foreign intent surfaces as torn
    assert(ds.rawDatapoints.count() === 2L)
    assert(ds.tornOperations === Seq("foreign_append"))
    ()
  }

  test("commit staleness: a concurrent commit landing mid-mutation aborts " +
      "the loser with CommitConflict; retry succeeds; snapshot never torn") {
    val (ds, dir) = freshDs
    ds.ensureStream("s1")
    ds.append("s1", 1.0, ts("2024-01-01T00:00:00Z"))
    val log = new java.io.File(s"$dir/commitlog")
    def nextV() = 1L + Option(log.listFiles()).getOrElse(Array.empty[java.io.File])
      .flatMap(_.getName.split('.').headOption.flatMap(_.toLongOption))
      .foldLeft(0L)(math.max)
    // forge the foreign writer's COMPLETE commit (no-op delta manifest with
    // the correct parent + its commit marker) in the body→commit window —
    // the lost-update interleaving the advisory lock cannot see on a
    // remote store
    ds.commitStaleInjection = () => {
      val pv = ds.currentVersion.get
      val fv = nextV()
      java.nio.file.Files.writeString(
        new java.io.File(log, f"$fv%09d.manifest").toPath,
        s"#graft v3 parent=$pv depth=1 full=0 tables=raw\n")
      java.nio.file.Files.writeString(
        new java.io.File(log, f"$fv%09d.commit").toPath,
        s"""{"version":$fv,"op":"foreign_append"}""")
      ds.commitStaleInjection = () => ()
    }
    intercept[errors.CommitConflict] {
      ds.append("s1", 99.0, ts("2024-01-01T00:01:00Z"))
    }
    // the loser's write is an invisible orphan: readers (fresh facade, no
    // caches) serve the foreign snapshot — 1 row, never the aborted 99.0
    val ds2 = new Datastream(spark, dir)
    assert(ds2.rawDatapoints.count() === 1L)
    assert(ds2.rawDatapoints.agg(sum("value")).first().getDouble(0) === 1.0)
    // the aborted commit is a resolvable torn op, and the RETRY (against
    // the new snapshot) simply works
    assert(ds2.tornOperations === Seq("append"))
    ds2.acknowledgeTorn()
    ds2.append("s1", 2.0, ts("2024-01-01T00:01:00Z"))
    assert(ds2.rawDatapoints.count() === 2L)
    ()
  }

  test("lineage guard: a sibling commit blind to a committed version fails " +
      "reads loudly instead of serving a thinner snapshot") {
    val (ds, dir) = freshDs
    ds.ensureStream("s1")
    ds.append("s1", 1.0, ts("2024-01-01T00:00:00Z"))
    val v1 = ds.currentVersion.get
    ds.append("s1", 2.0, ts("2024-01-01T00:01:00Z"))
    // forge a commit whose parent SKIPS the second committed version — the
    // artifact of two writers racing past every guard
    val log = new java.io.File(s"$dir/commitlog")
    val fv = ds.currentVersion.get + 1
    java.nio.file.Files.writeString(
      new java.io.File(log, f"$fv%09d.manifest").toPath,
      s"#graft v3 parent=$v1 depth=1 full=0 tables=raw\n")
    java.nio.file.Files.writeString(
      new java.io.File(log, f"$fv%09d.commit").toPath,
      s"""{"version":$fv,"op":"append"}""")
    val ds2 = new Datastream(spark, dir)
    val e = intercept[IllegalStateException](ds2.rawDatapoints.count())
    assert(e.getMessage.contains("parent"))
    ()
  }

  test("manifest protocol guard: an unknown reader version fails loudly, " +
      "never a silently-thinner snapshot") {
    val (ds, dir) = freshDs
    ds.ensureStream("s1")
    ds.append("s1", 1.0, ts("2024-01-01T00:00:00Z"))
    val log = new java.io.File(s"$dir/commitlog")
    for (f <- log.listFiles() if f.getName.endsWith(".manifest")) {
      val txt = java.nio.file.Files.readString(f.toPath)
      java.nio.file.Files.writeString(f.toPath,
        txt.replaceFirst("#graft v3 ", "#graft v9 "))
    }
    val ds2 = new Datastream(spark, dir)
    val e = intercept[IllegalStateException](ds2.rawDatapoints.count())
    assert(e.getMessage.contains("reader protocol"))
    ()
  }

  test("metadata-only count: interior files answer from manifest rows= with " +
      "zero data I/O; boundary files scan; skipped files untouched") {
    val (ds, dir) = freshDs
    ds.ensureStream("s1")
    // coalesce(1): exactly ONE multi-row file per date partition, so the
    // interior/boundary classification below is deterministic
    ds.appendMultiple(dp(Seq(
      ("s1", "2024-01-01T00:00:00Z", 1.0),
      ("s1", "2024-01-01T06:00:00Z", 2.0)))
      .select("stream_id", "ts", "value").coalesce(1))
    ds.appendMultiple(dp(Seq(
      ("s1", "2024-01-02T00:00:00Z", 3.0),
      ("s1", "2024-01-02T06:00:00Z", 4.0),
      ("s1", "2024-01-02T12:00:00Z", 5.0)))
      .select("stream_id", "ts", "value").coalesce(1))
    val v2 = ds.currentVersion.get
    ds.appendMultiple(dp(Seq(("s1", "2024-01-05T00:00:00Z", 6.0)))
      .select("stream_id", "ts", "value").coalesce(1))
    assert(ds.countDatapoints() === 6L)
    // inclusive bounds, boundary file scanned with the exact µs predicate:
    // the Jan-2 file straddles the end bound, so only 2 of its 3 rows count
    assert(ds.countDatapoints(Some(ts("2024-01-01T00:00:00Z")),
      Some(ts("2024-01-02T06:00:00Z"))) === 4L)
    // pinned count excludes the later commit entirely
    assert(ds.countDatapoints(asOfVersion = Some(v2)) === 5L)
    // PROOF the interior/skipped files are never read: garbage their bytes
    // on disk — the same counts must still come back (Jan-1 is interior →
    // manifest rows=; Jan-5 is outside the range → skipped; only the
    // boundary Jan-2 file is genuinely opened)
    for (d <- Seq("dp_date=2024-01-01", "dp_date=2024-01-05");
         f <- Option(new java.io.File(s"$dir/raw/$d").listFiles())
           .getOrElse(Array.empty[java.io.File])
         if f.getName.endsWith(".parquet"))
      java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
    assert(ds.countDatapoints(Some(ts("2024-01-01T00:00:00Z")),
      Some(ts("2024-01-02T06:00:00Z"))) === 4L)
    // unbounded count touches NO data file at all — every file interior
    assert(ds.countDatapoints() === 6L)
    assert(ds.countDatapoints(asOfVersion = Some(v2)) === 5L)
    // far-future range: stats skipping answers 0 without a scan
    assert(ds.countDatapoints(Some(ts("2030-01-01T00:00:00Z")), None) === 0L)
    // stream-scoped: every file is single-stream, so sid purity is
    // provable from the bounds and the corrupted files are still never
    // opened; an unknown id skips everything
    assert(ds.countDatapoints(streamIds = Some(Seq("s1"))) === 6L)
    assert(ds.countDatapoints(streamIds = Some(Seq("zz"))) === 0L)
    // ...but a range that SPLITS the corrupted Jan-1 file (its bounds are
    // [00:00, 06:00]; the range starts inside them) forces a scan and
    // fails loudly — proving boundary files really are read, not estimated
    intercept[Exception] {
      ds.countDatapoints(Some(ts("2024-01-01T03:00:00Z")),
        Some(ts("2024-01-01T23:00:00Z")))
    }
    ()
  }

  test("metadata-only rollup count: bucket counts answer from manifest " +
      "rows= with every rollup file corrupted on disk") {
    val (ds, dir) = freshDs
    ds.ensureStream("s1")
    ds.appendMultiple(dp(Seq(
      ("s1", "2024-01-01T00:00:00Z", 1.0),
      ("s1", "2024-01-01T00:00:20Z", 2.0), // same second-bucket as next
      ("s1", "2024-01-01T00:00:20Z", 2.5),
      ("s1", "2024-01-02T06:00:00Z", 3.0)))
      .select("stream_id", "ts", "value").coalesce(1))
    ds.downsampleStreams(ts("2024-01-03T00:00:00Z"))
    val expected = ds.rollup(Granularity.Seconds).count()
    assert(expected === 3L) // two Jan-1 buckets (one merged) + one Jan-2
    assert(ds.countRollup(Granularity.Seconds) === expected)
    // garbage EVERY seconds-rollup file: the unbounded count, a range that
    // provably covers each file, and the stream-scoped count must all still
    // come back exact — pure manifest metadata, zero rollup I/O
    def walk(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
        .flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
    for (f <- walk(new java.io.File(s"$dir/rollup/granularity=seconds"))
         if f.getName.endsWith(".parquet"))
      java.nio.file.Files.write(f.toPath, Array[Byte](9, 9, 9))
    assert(ds.countRollup(Granularity.Seconds) === expected)
    assert(ds.countRollup(Granularity.Seconds,
      Some(ts("2024-01-01T00:00:00Z")), Some(ts("2024-01-02T23:00:00Z"))) === expected)
    assert(ds.countRollup(Granularity.Seconds,
      streamIds = Some(Seq("s1"))) === expected)
    assert(ds.countRollup(Granularity.Seconds,
      streamIds = Some(Seq("zz"))) === 0L)
    // far-future: skipped entirely, still exact
    assert(ds.countRollup(Granularity.Seconds,
      Some(ts("2030-01-01T00:00:00Z")), None) === 0L)
    // a range that SPLITS a corrupted file's bucket_start bounds forces the
    // boundary scan — loud failure proves boundary files are really read
    intercept[Exception] {
      ds.countRollup(Granularity.Seconds,
        Some(ts("2024-01-01T00:00:10Z")), Some(ts("2024-01-01T23:00:00Z")))
    }
    ()
  }
}
