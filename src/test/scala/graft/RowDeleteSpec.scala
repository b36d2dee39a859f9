package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Row-level deletes (GDPR/takedown): merge-on-read delete files,
  * copy-on-write rewrites, rollup repair, and the consistency guards on
  * every surface that could otherwise leak voided rows (time travel,
  * counts, changefeed, replication, symlink export).
  */
class RowDeleteSpec extends SparkSpec {

  private def freshDs = {
    val dir = Files.createTempDirectory("graft-rowdel").toString
    (new Datastream(spark, dir), dir)
  }

  /** Two streams; `a` has 6 rows across 3 minutes, `b` has 3 rows. */
  private def seed(ds: Datastream): Unit = {
    ds.ensureStream("a", Map("team" -> "red"))
    ds.ensureStream("b", Map("team" -> "blue"))
    ds.appendMultiple(dp(Seq(
      ("a", "2024-01-01T00:00:10Z", 1.0),
      ("a", "2024-01-01T00:00:40Z", 2.0),
      ("a", "2024-01-01T00:01:10Z", 4.0),
      ("a", "2024-01-01T00:01:40Z", 8.0),
      ("a", "2024-01-01T00:02:10Z", 16.0),
      ("a", "2024-01-01T00:02:40Z", 32.0),
      ("b", "2024-01-01T00:00:20Z", 100.0),
      ("b", "2024-01-01T00:01:20Z", 200.0),
      ("b", "2024-01-01T00:02:20Z", 400.0))).select("stream_id", "ts", "value"))
    ds.downsampleStreams(ts("2024-01-01T01:00:00Z"))
  }

  // the delete window: minute 1 of stream a (rows 4.0 and 8.0)
  private val delLo = ts("2024-01-01T00:01:00Z")
  private val delHi = ts("2024-01-01T00:01:59Z")

  private def minutes(ds: Datastream, sid: String): Seq[(String, Double, Long)] =
    ds.getData(sid, Granularity.Minutes)
      .select(col("bucket_start").cast("string"), col("sum"), col("count"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      .toSeq.sortBy(_._1)

  test("merge-on-read delete voids rows on every read surface and repairs rollups") {
    val (ds, _) = freshDs
    seed(ds)
    val vBefore = ds.currentVersion.get
    val n = ds.deleteDatapoints(Map("team" -> "red"), delLo, delHi)
    assert(n === 2L)
    // raw read path
    assert(ds.rawDatapoints.where(col("stream_id") === "a").count() === 4)
    assert(ds.getData("a", Granularity.Seconds).count() === 4)
    // untouched stream is untouched
    assert(ds.rawDatapoints.where(col("stream_id") === "b").count() === 3)
    // rollups repaired in the same commit: minute 1 of `a` vanished
    // (all rows deleted), other buckets bit-identical
    assert(minutes(ds, "a") === Seq(
      ("2024-01-01 00:00:00", 3.0, 2L),
      ("2024-01-01 00:02:00", 48.0, 2L)))
    assert(minutes(ds, "b").map(_._3).sum === 3L)
    // counts stay exact with the delete merge-on-read (boundary files are
    // scanned with the anti-join; disjoint files stay metadata-only)
    assert(ds.countDatapoints() === 7L)
    assert(ds.countDatapoints(Some(delLo), Some(delHi)) === 1L) // b's 200.0
    assert(ds.countDatapoints(streamIds = Some(Seq("a"))) === 4L)
    // the audit surface names the pending range
    val pend = ds.pendingDeletes.collect()
    assert(pend.length === 1 && pend.head.getString(0) === "a")
    // time travel: the pre-delete snapshot still serves the voided rows
    assert(ds.rawDatapointsAt(vBefore).where(col("stream_id") === "a").count() === 6)
    // restore undoes the delete wholesale (data + rollups)
    ds.restore(vBefore)
    assert(ds.rawDatapoints.where(col("stream_id") === "a").count() === 6)
    assert(ds.pendingDeletes.count() === 0)
    assert(minutes(ds, "a") === Seq(
      ("2024-01-01 00:00:00", 3.0, 2L),
      ("2024-01-01 00:01:00", 12.0, 2L),
      ("2024-01-01 00:02:00", 48.0, 2L)))
  }

  test("copy-on-write delete is row-identical to merge-on-read; applyDeletes converges them") {
    val (mor, _) = freshDs
    val (cow, _) = freshDs
    seed(mor); seed(cow)
    assert(mor.deleteDatapoints(Map("team" -> "red"), delLo, delHi) === 2L)
    assert(cow.deleteDatapoints(Map("team" -> "red"), delLo, delHi,
      DeleteMode.CopyOnWrite) === 2L)
    def rows(ds: Datastream) = ds.rawDatapoints
      .select("stream_id", "ts", "value").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(2)))
      .toSet
    assert(rows(mor) === rows(cow))
    assert(minutes(mor, "a") === minutes(cow, "a"))
    // COW leaves nothing pending; MOR does until applyDeletes
    assert(cow.pendingDeletes.count() === 0)
    assert(mor.pendingDeletes.count() === 1)
    // physically, the MOR warehouse still holds the voided rows
    assert(mor.countDatapoints() === 7L)
    assert(mor.applyDeletes() === 1L)
    assert(mor.pendingDeletes.count() === 0)
    assert(rows(mor) === rows(cow))
    assert(mor.countDatapoints() === 7L)
    // idempotent: nothing pending → no-op, no commit
    val v = mor.currentVersion.get
    assert(mor.applyDeletes() === 0L)
    assert(mor.currentVersion.get === v)
    // deleting an empty match is a no-op too
    assert(mor.deleteDatapoints(Map("team" -> "red"), delLo, delHi) === 0L)
    assert(mor.currentVersion.get === v)
  }

  test("symlink export refuses while merge-on-read deletes are active") {
    val (ds, _) = freshDs
    seed(ds)
    ds.deleteDatapoints(Map("team" -> "red"), delLo, delHi)
    val e = intercept[IllegalStateException](ds.generateSymlinkManifest())
    assert(e.getMessage.contains("applyDeletes"))
    ds.applyDeletes()
    assert(ds.generateSymlinkManifest() > 0L)
  }

  test("validation: inverted range, missing bounds, outstanding dependents") {
    val (ds, _) = freshDs
    seed(ds)
    intercept[errors.InvalidTimestamp](
      ds.deleteDatapoints(Map("team" -> "red"), delHi, delLo))
    intercept[errors.InvalidTimestamp](
      ds.deleteDatapoints(Map("team" -> "red"), null, delHi))
    ds.ensureStream("d", deriveOp = Some("sum"), derivedFrom = Seq("a"))
    intercept[errors.OutstandingDependenciesError](
      ds.deleteDatapoints(Map("team" -> "red"), delLo, delHi))
  }

  test("changefeed surfaces row deletes; replication propagates them exactly once") {
    val (ds, _) = freshDs
    seed(ds)
    val dest = new Datastream(spark,
      Files.createTempDirectory("graft-rowdel-dst").toString)
    val follower = new Datastream(spark,
      Files.createTempDirectory("graft-rowdel-fol").toString)
    assert(ds.replicateTo(dest) > 0L)
    assert(ds.replicateTo(follower) > 0L)
    val vBefore = ds.currentVersion.get
    ds.deleteDatapoints(Map("team" -> "red"), delLo, delHi)
    // the insert-only feed cannot encode the delete: loud, or skipped
    val e1 = intercept[IllegalStateException](
      ds.readChanges(vBefore).count())
    assert(e1.getMessage.contains("merge-on-read"))
    assert(ds.readChanges(vBefore, skipChangeCommits = true).count() === 0L)
    // the CDF feed decodes the delete into exactly the voided rows
    val cdc = ds.readChangesWithDeletes(vBefore)
      .select("_change_type", "stream_id", "value").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(cdc === Set(("delete", "a", 4.0), ("delete", "a", 8.0)))
    // full replay from 0: every append as insert + the two deletes
    val full = ds.readChangesWithDeletes(0L)
    assert(full.where(col("_change_type") === "insert").count() === 9L)
    assert(full.where(col("_change_type") === "delete").count() === 2L)
    // replication PROPAGATES the delete, idempotently
    assert(ds.replicateTo(dest) === 1L)
    assert(dest.rawDatapoints.count() === 7L)
    assert(dest.pendingDeletes.count() === 1L)
    assert(ds.replicateTo(dest) === 0L)
    assert(dest.rawDatapoints.count() === 7L)
    // a voided-twice row is emitted once, at the commit that first voided
    // it: an overlapping second delete decodes to nothing new
    val vMid = ds.currentVersion.get
    ds.deleteDatapoints(Map("team" -> "red"),
      ts("2024-01-01T00:00:30Z"), delHi)
    val cdc2 = ds.readChangesWithDeletes(vMid)
      .where(col("_change_type") === "delete")
      .select("value").collect().map(_.getDouble(0)).toSet
    assert(cdc2 === Set(2.0)) // only the 00:00:40 row is newly voided
    // the physical rewrite is skipped by the feed (already emitted)
    val vPre = ds.currentVersion.get
    ds.applyDeletes()
    assert(ds.readChangesWithDeletes(vPre).count() === 0L)
    // opt-out follower stays insert-only, stated
    ds.replicateTo(follower, skipChangeCommits = true)
    assert(follower.rawDatapoints.count() === 9L)
  }

  test("a crash mid-delete leaves every surface on the pre-mutation snapshot") {
    val (ds, _) = freshDs
    seed(ds)
    Seq("delete_datapoints_repair", "delete_datapoints").foreach { seam =>
      ds.crashBeforeCommitOf = Set(seam)
      try intercept[IllegalStateException](
        ds.deleteDatapoints(Map("team" -> "red"), delLo, delHi))
      finally ds.crashBeforeCommitOf = Set.empty
      assert(ds.rawDatapoints.count() === 9L)
      assert(ds.pendingDeletes.count() === 0)
      assert(minutes(ds, "a").length === 3)
    }
  }

  test("deletes compose across commits and survive compaction/z-order rewrites") {
    val (ds, _) = freshDs
    seed(ds)
    // two overlapping merge-on-read deletes on different streams
    assert(ds.deleteDatapoints(Map("team" -> "red"), delLo, delHi) === 2L)
    assert(ds.deleteDatapoints(Map("team" -> "blue"),
      ts("2024-01-01T00:00:00Z"), ts("2024-01-01T00:00:59Z")) === 1L)
    assert(ds.rawDatapoints.count() === 6L)
    // compaction moves rows between files; value-keyed deletes still apply
    ds.compact()
    assert(ds.rawDatapoints.count() === 6L)
    assert(ds.countDatapoints() === 6L)
    // apply both pending ranges at once (one range row per doomed stream)
    assert(ds.applyDeletes() === 2L)
    assert(ds.rawDatapoints.count() === 6L)
    assert(ds.pendingDeletes.count() === 0L)
    assert(ds.countDatapoints() === 6L)
  }

  test("a copy-on-write delete of one stream retires no derived file of another stream") {
    val (ds, _) = freshDs
    seed(ds)
    ds.ensureStream("da", Map("team" -> "derived-a"),
      deriveOp = Some("derivative"), derivedFrom = Seq("a"))
    ds.ensureStream("db", Map("team" -> "derived-b"),
      deriveOp = Some("derivative"), derivedFrom = Seq("b"))
    ds.updateDerivedStreams()
    def derivedFiles(sid: String) =
      ds.plannedFiles("derived", None, None).filter(_.startsWith(s"stream_id=$sid/"))
    val dbFiles = derivedFiles("db")
    assert(dbFiles.nonEmpty)
    val daRows = ds.rawDatapoints.where(col("stream_id") === "da").count()
    // `da`'s derivative points at 00:00:40 and 00:01:10 fall in the window
    assert(ds.deleteDatapoints(Map("team" -> "derived-a"),
      ts("2024-01-01T00:00:30Z"), ts("2024-01-01T00:01:30Z"),
      DeleteMode.CopyOnWrite) === 2L)
    assert(ds.rawDatapoints.where(col("stream_id") === "da").count() === daRows - 2)
    // each derived file holds one stream (its `stream_id=` directory):
    // `db`'s files provably hold no `da` row and keep their names
    assert(derivedFiles("db") === dbFiles)
    assert(ds.countDatapoints(streamIds = Some(Seq("db"))) === 2L)
  }

  test("deleteDatapointsWhere targets streams via the full tag-query algebra") {
    val (ds, _) = freshDs
    seed(ds)
    import StreamRegistry.{TagQuery, TagPred}
    // $or over two tag predicates selects both streams
    val q = TagQuery.Or(Seq(
      TagQuery.Clause(Map("team" -> Seq(TagPred.Eq("red")))),
      TagQuery.Clause(Map("team" -> Seq(TagPred.Eq("blue"))))))
    val n = ds.deleteDatapointsWhere(q,
      ts("2024-01-01T00:00:00Z"), ts("2024-01-01T00:00:59Z"))
    assert(n === 3L) // a: 2 rows, b: 1 row in minute 0
    assert(ds.rawDatapoints.count() === 6L)
  }

  test("retention expiry voids everything before the cutoff, derived streams included") {
    val (ds, _) = freshDs
    seed(ds)
    // a derived dependent inside the expired set is fine (self-contained);
    // the TTL case is Map.empty = every stream
    ds.ensureStream("d", deriveOp = Some("sum"), derivedFrom = Seq("a"))
    assert(ds.expireDatapoints(ts("2024-01-01T00:01:00Z")) === 3L)
    assert(ds.rawDatapoints.count() === 6L)
    assert(ds.rawDatapoints.agg(min("ts")).first().getTimestamp(0) ===
      ts("2024-01-01T00:01:10Z"))
    assert(minutes(ds, "a").map(_._1) ===
      Seq("2024-01-01 00:01:00", "2024-01-01 00:02:00"))
    // idempotent; a pre-data cutoff is a no-op
    assert(ds.expireDatapoints(ts("2024-01-01T00:01:00Z")) === 0L)
    assert(ds.expireDatapoints(ts("1970-01-01T00:00:00Z")) === 0L)
  }

  test("stream-id collect guardrail: an over-bound takedown refuses with " +
    "the pinned message; the distributed fallback (maxPruneStreams = 0) " +
    "is row-identical to the pruned path, both modes") {
    val (ds, _) = freshDs
    seed(ds)
    // the tag-less query matches both streams; bound of 1 must refuse
    val e = intercept[IllegalArgumentException](
      ds.deleteDatapoints(Map.empty, delLo, delHi, maxPruneStreams = 1))
    assert(e.getMessage.contains("maxPruneStreams=1"))
    assert(ds.pendingDeletes.count() === 0) // nothing committed
    // merge-on-read REFUSES the distributed path: the delete file must
    // stay metadata-scale (reads broadcast it; applyDeletes collects it)
    val mor = intercept[IllegalArgumentException](
      ds.deleteDatapoints(Map.empty, delLo, delHi, maxPruneStreams = 0))
    assert(mor.getMessage.contains("CopyOnWrite only"))
    assert(ds.pendingDeletes.count() === 0)
    val nPruned = ds.deleteDatapoints(Map.empty, delLo, delHi)
    assert(nPruned === 3L) // a's 2 rows + b's 1
    def facts(d: Datastream) = d.rawDatapoints
      .select(col("stream_id"), col("ts").cast("string"), col("value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .toSeq.sorted
    // fallback ≡ pruned, copy-on-write (fresh twin warehouses; the
    // un-hinted rewrite path must land on identical rows and rollups)
    val (ds3, _) = freshDs
    seed(ds3)
    val (ds4, _) = freshDs
    seed(ds4)
    assert(ds3.deleteDatapoints(Map.empty, delLo, delHi,
      mode = DeleteMode.CopyOnWrite) === 3L)
    assert(ds4.deleteDatapoints(Map.empty, delLo, delHi,
      mode = DeleteMode.CopyOnWrite, maxPruneStreams = 0) === 3L)
    assert(facts(ds4) === facts(ds3))
    assert(ds4.pendingDeletes.count() === 0)
    assert(minutes(ds4, "a") === minutes(ds3, "a"))
    assert(minutes(ds4, "b") === minutes(ds3, "b"))
  }
}
