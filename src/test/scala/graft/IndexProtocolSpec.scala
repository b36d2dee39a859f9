package graft

import org.apache.spark.sql.functions._

/** The shared [[ext.VersionedIndex]] commit protocol across crash points
  * the streaming gates don't reach: orphaned fold records vs foreign
  * batch mutations, empty micro-batches, and the SQ8 rerank-depth
  * contract.
  */
class IndexProtocolSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (0L, "cat dog cat fish"),
    (1L, "dog dog dog"),
    (2L, "fish fish cat cat cat cat"),
    (3L, "bird bird bird bird"),
    (4L, "cat")
  ).toDF("doc_id", "text")

  /** 4-dim embeddings with distinct directions; ids 0..7. */
  private def vecs = Seq(
    (0L, Array(1.0f, 0.1f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.2f, 0.1f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.1f, 0.0f)),
    (3L, Array(0.1f, 0.9f, 0.2f, 0.0f)),
    (4L, Array(0.0f, 0.0f, 1.0f, 0.1f)),
    (5L, Array(0.0f, 0.1f, 0.9f, 0.2f)),
    (6L, Array(0.2f, 0.0f, 0.0f, 1.0f)),
    (7L, Array(0.1f, 0.1f, 0.1f, 0.9f))
  ).toDF("vec_id", "embedding")

  private def asRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a foreign batch mutation scrubs an orphaned fold record — the " +
    "restarted stream must NOT skip the crashed batch's replay") {
    val path = java.nio.file.Files.createTempDirectory("graft-orph").toString
    val shard1 = corpus.where(col("doc_id") < 2)
    val shard2 = corpus.where(col("doc_id") === 2)
    val shard3 = corpus.where(col("doc_id") >= 3)
    ext.Search.appendBatchToIndex(shard1, path, batchId = 0L) // v1 = build
    // crashed fold attempt for batch 7: the record is stamped INSIDE v2
    // before the body runs, and the body never commits
    val io = ext.VersionedIndex.io(spark, path)
    io.mkdirs(s"$path/v2")
    io.writeString(s"$path/v2/ingest_batch_id", "7")
    // a foreign BATCH mutation now allocates v2 and commits — pre-scrub it
    // ADOPTED the orphan, the high-watermark jumped to 7, and every stream
    // batch <= 7 was silently skipped from then on
    ext.Search.appendToIndex(shard2, path)
    assert(!io.exists(s"$path/v2/ingest_batch_id"),
      "the batch append must scrub the orphaned fold record it would adopt")
    // the restarted stream's next batch (1 <= 7) must still fold
    ext.Search.appendBatchToIndex(shard3, path, batchId = 1L)
    val qs = Seq("q" -> Seq("cat", "bird"))
    assert(asRows(ext.Search.queryIndex(spark, path, qs, topK = 10)) ==
      asRows(ext.Search.bm25(corpus, qs, topK = 10)))
  }

  test("an empty first micro-batch advances the watermark without " +
    "committing a degenerate build (IVF and SQ8)") {
    val empty = vecs.where(lit(false))
    for ((fold, query) <- Seq[((org.apache.spark.sql.DataFrame, String, Long) => Unit,
                               String => org.apache.spark.sql.DataFrame)](
      (((b, p, id) => ext.Ivf.appendBatchToIndex(b, p, id, nCells = 4)),
        (p => ext.Ivf.queryIndex(p, vecs, k = 2, nProbe = 4))),
      (((b, p, id) => ext.Sq.appendBatchToIndex(b, p, id)),
        (p => ext.Sq.queryIndex(p, vecs, k = 2,
          rerank = 8, rerankAgainst = Some(vecs)))))) {
      val path = java.nio.file.Files.createTempDirectory("graft-mtb").toString
      fold(empty, path, 0L)
      // nothing committed: no version, no degenerate model
      assert(ext.VersionedIndex.currentVersion(spark, path).isEmpty)
      fold(empty, path, 0L) // replay of the empty batch: still a no-op
      fold(vecs, path, 1L)  // first NON-empty batch builds
      val v = ext.VersionedIndex.currentVersion(spark, path)
      assert(v.nonEmpty)
      // exhaustive config reproduces brute force over the corpus
      assert(asRows(query(path)) ==
        asRows(ext.Similarity.topK(vecs, vecs.withColumn("label", lit(0)), k = 2)
          .select("query_vec_id", "vec_id", "cosine", "rank")))
      fold(empty, path, 2L) // empty LATER batch: watermark-only
      assert(ext.VersionedIndex.currentVersion(spark, path) == v)
      fold(vecs.where(lit(false)), path, 2L) // replay: no-op
      assert(asRows(query(path)) ==
        asRows(ext.Similarity.topK(vecs, vecs.withColumn("label", lit(0)), k = 2)
          .select("query_vec_id", "vec_id", "cosine", "rank")))
    }
  }

  test("Sq.queryIndex: rerank == k with a rerank corpus runs the EXACT " +
    "rescore (scores carry no quantization error)") {
    val path = java.nio.file.Files.createTempDirectory("graft-sqrk").toString
    ext.Sq.buildIndex(vecs, path)
    val got = ext.Sq.queryIndex(path, vecs, k = 2,
      rerank = 2, rerankAgainst = Some(vecs))
    // every returned cosine must be the exact float-vector cosine — the
    // pre-fix path returned SQ8-approximate scores labeled 'cosine'
    val v = vecs.select(col("vec_id"), col("embedding"))
    val exact = got.join(v.select(col("vec_id").as("query_vec_id"),
        col("embedding").as("_qv")), "query_vec_id")
      .join(v.select(col("vec_id"), col("embedding").as("_cv")), "vec_id")
      .select(col("cosine"),
        ext.Similarity.cosine(col("_qv"), col("_cv")).as("_exact"))
      .where(col("cosine") =!= col("_exact"))
    assert(exact.isEmpty,
      "rerank == k must exact-rescore, not serve SQ8-approximate scores")
  }

  test("a Hadoop conf entry set after the first index operation reaches index I/O") {
    val path = java.nio.file.Files.createTempDirectory("graft-conf").toString
    ext.Ivf.buildIndex(vecs, path, nCells = 2)
    // the scheme resolves only through the entry set below
    val key = "fs.graftlocal.impl"
    spark.conf.set(key, classOf[SchemeLocalFileSystem].getName)
    try assert(ext.Ivf.indexDir(spark, s"graftlocal://$path") ==
      s"graftlocal://$path/v1")
    finally spark.conf.unset(key)
  }

  test("a filesystem setting changed after the first index operation reaches index I/O") {
    val path = java.nio.file.Files.createTempDirectory("graft-fsconf").toString
    ext.Ivf.buildIndex(vecs, path, nCells = 2)
    val uri = s"graftlocal://$path"
    val (impl, tag) = ("fs.graftlocal.impl", "fs.graftlocal.tag")
    spark.conf.set(impl, classOf[SchemeLocalFileSystem].getName)
    try {
      spark.conf.set(tag, "first")
      assert(ext.Ivf.indexDir(spark, uri) == s"$uri/v1")
      spark.conf.set(tag, "second")
      val io = ext.VersionedIndex.io(spark, uri)
      assert(io.exists(s"$uri/v1/centroids"))
      assert(io.fs.getConf.get(tag) == "second")
    } finally {
      spark.conf.unset(impl)
      spark.conf.unset(tag)
    }
  }

  test("a filesystem setting changed at runtime reaches a live facade's warehouse I/O") {
    val path = java.nio.file.Files.createTempDirectory("graft-fsfacade").toString
    val (impl, tag) = ("fs.graftlocal.impl", "fs.graftlocal.tag")
    spark.conf.set(impl, classOf[SchemeLocalFileSystem].getName)
    try {
      spark.conf.set(tag, "first")
      val ds = new Datastream(spark, s"graftlocal://$path")
      ds.ensureStream("s1", Map("site" -> "a"))
      spark.conf.set(tag, "second")
      SchemeLocalFileSystem.created.clear()
      ds.ensureStream("s2", Map("site" -> "b"))
      // the registry swap's commit marker is written by the facade's own
      // instance, never by Spark's
      val markers = SchemeLocalFileSystem.created.toArray.toSeq.collect {
        case (t: String, p: String) if p.contains("CURRENT.g") => t
      }
      assert(markers.nonEmpty)
      assert(markers.forall(_ == "second"))
      Seq("s1", "s2").foreach(ds.streamMeta)
    } finally {
      spark.conf.unset(impl)
      spark.conf.unset(tag)
    }
  }

  test("warehouse I/O keeps at most 32 filesystem instances and leaves the ones it drops open") {
    val path = java.nio.file.Files.createTempDirectory("graft-fsbound").toString
    val uri = s"graftlocal://$path"
    val (impl, tag) = ("fs.graftlocal.impl", "fs.graftlocal.tag")
    spark.conf.set(impl, classOf[SchemeLocalFileSystem].getName)
    def tagged(t: String) = {
      spark.conf.set(tag, t)
      ext.VersionedIndex.io(spark, uri).fs.asInstanceOf[SchemeLocalFileSystem]
    }
    try {
      spark.conf.set(tag, "bound-0")
      val held = ext.VersionedIndex.io(spark, uri)
      val first = held.fs.asInstanceOf[SchemeLocalFileSystem]
      val rest = (1 to 32).map(i => tagged(s"bound-$i"))
      assert(tagged("bound-32") eq rest.last)
      // dropped from the memo, yet still usable by whoever holds it
      assert(!first.closed)
      assert(first.exists(new org.apache.hadoop.fs.Path(path)))
      spark.conf.set(tag, "bound-0")
      assert(held.exists(path))
      assert(held.fs ne first)
    } finally {
      spark.conf.unset(impl)
      spark.conf.unset(tag)
    }
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Four documents with no 3-word shingle in common. */
  private def distinctDocs = Seq(
    (0L, "alpha beta gamma delta epsilon zeta"),
    (1L, "one two three four five six"),
    (2L, "red orange yellow green blue indigo"),
    (3L, "north south east west up down")
  ).toDF("doc_id", "text")

  /** A stream-maintained index family: its fold entry point, a one-shot
    * build of the same rows, a fingerprint of what it serves, its
    * compaction and its vacuum to one version, and two batches to fold.
    */
  private case class Family(name: String,
                            fold: (org.apache.spark.sql.DataFrame, String, Long) => Unit,
                            oneShot: (org.apache.spark.sql.DataFrame, String) => Unit,
                            content: String => Seq[String],
                            compact: String => Boolean,
                            vacuum: String => Unit,
                            batches: () => (org.apache.spark.sql.DataFrame,
                              org.apache.spark.sql.DataFrame))

  private def families: Seq[Family] = Seq(
    Family("search",
      ext.Search.appendBatchToIndex(_, _, _),
      ext.Search.buildIndex(_, _),
      p => asRows(ext.Search.queryIndex(spark, p,
        Seq("q" -> Seq("cat", "dog", "fish", "bird")), topK = 10)),
      ext.Search.compactIndex(_, spark),
      ext.Search.vacuumIndex(spark, _, retainVersions = 1),
      () => (corpus.where(col("doc_id") < 3), corpus.where(col("doc_id") >= 3))),
    Family("ivf",
      ext.Ivf.appendBatchToIndex(_, _, _, nCells = 2),
      ext.Ivf.buildIndex(_, _, nCells = 2),
      p => asRows(ext.Ivf.cells(spark, p).select("vec_id", "embedding")),
      ext.Ivf.compactIndex(_, spark),
      ext.Ivf.vacuumIndex(spark, _, retainVersions = 1),
      () => (vecs.where(col("vec_id") < 4), vecs.where(col("vec_id") >= 4))),
    Family("ivfpq",
      ext.Ivf.appendBatchToPqIndex(_, _, _, nCells = 2, m = 2, codes = 2),
      ext.Ivf.buildPqIndex(_, _, nCells = 2, m = 2, codes = 2),
      p => asRows(ext.Ivf.cells(spark, p).select("vec_id", "norm")),
      ext.Ivf.compactIndex(_, spark),
      ext.Ivf.vacuumIndex(spark, _, retainVersions = 1),
      () => (vecs.where(col("vec_id") < 4), vecs.where(col("vec_id") >= 4))),
    Family("sq8",
      ext.Sq.appendBatchToIndex(_, _, _),
      ext.Sq.buildIndex(_, _),
      p => asRows(ext.Sq.queryIndex(p, vecs, k = 2, rerank = 8,
        rerankAgainst = Some(vecs))),
      ext.Sq.compactIndex(_, spark),
      ext.Sq.vacuumIndex(spark, _, retainVersions = 1),
      () => (vecs.where(col("vec_id") < 4), vecs.where(col("vec_id") >= 4))),
    Family("dedup",
      ext.DedupIndex.appendBatchDeduped(_, _, _),
      ext.DedupIndex.buildIndex(_, _),
      p => asRows(ext.DedupIndex.indexedIds(spark, p)),
      ext.DedupIndex.compactIndex(_, spark),
      ext.DedupIndex.vacuumIndex(spark, _, retainVersions = 1),
      () => (distinctDocs.where(col("doc_id") < 2), distinctDocs.where(col("doc_id") >= 2))))

  /** `f`'s two batches folded as batches 0 and 1 into a fresh index. */
  private def folded(f: Family): String = {
    val path = tmp(s"graft-fold-${f.name}")
    val (b0, b1) = f.batches()
    f.fold(b0, path, 0L)
    f.fold(b1, path, 1L)
    path
  }

  private def oneShotContent(f: Family): Seq[String] = {
    val path = tmp(s"graft-once-${f.name}")
    val (b0, b1) = f.batches()
    f.oneShot(b0.unionByName(b1), path)
    f.content(path)
  }

  test("a fold that crashed before its marker create replays exactly once " +
    "(Search, IVF, IVF-PQ, SQ8, dedup)") {
    for (f <- families) {
      val path = folded(f)
      val (_, b1) = f.batches()
      val v = ext.VersionedIndex.currentVersion(spark, path).get
      // batch 1's tables are on disk, its commit never happened
      assert(new java.io.File(s"$path/CURRENT.v$v").delete(), f.name)
      f.fold(b1, path, 1L) // the restarted stream replays batch 1
      assert(ext.VersionedIndex.currentVersion(spark, path).contains(v), f.name)
      f.fold(b1, path, 1L) // a second replay is skipped
      assert(ext.VersionedIndex.currentVersion(spark, path).contains(v), f.name)
      assert(f.content(path) == oneShotContent(f), f.name)
    }
  }

  test("a committed fold stays skipped after compaction and a vacuum to " +
    "one version (Search, IVF, IVF-PQ, SQ8, dedup)") {
    for (f <- families) {
      val path = folded(f)
      val (b0, b1) = f.batches()
      assert(f.compact(path), f.name)
      f.vacuum(path)
      val v = ext.VersionedIndex.currentVersion(spark, path)
      f.fold(b1, path, 1L)
      f.fold(b0, path, 0L)
      assert(ext.VersionedIndex.currentVersion(spark, path) == v, f.name)
      assert(f.content(path) == oneShotContent(f), f.name)
    }
  }

  test("an index written before markers recorded txn= still vetoes its " +
    "folded batches (Search, IVF, IVF-PQ, SQ8, dedup)") {
    for (f <- families; record <- Seq("in-version", "root")) {
      val path = folded(f)
      val (b0, b1) = f.batches()
      val io = ext.VersionedIndex.io(spark, path)
      // the earlier layout: bare `v<N>` markers, the batch id in the fold's
      // version directory and in a root watermark file that outlived vacuum
      val committed = ext.VersionedIndex.committedVersions(spark, path)
      committed.foreach(v => io.writeString(s"$path/CURRENT.v$v", s"v$v"))
      val legacy =
        if (record == "in-version") s"$path/v${committed.last}/ingest_batch_id"
        else s"$path/ingest_batch_hwm.v1"
      io.writeString(legacy, "1")
      val v = committed.last
      val served = f.content(path)
      f.fold(b1, path, 1L)
      f.fold(b0, path, 0L)
      assert(ext.VersionedIndex.currentVersion(spark, path).contains(v), s"${f.name} $record")
      assert(f.content(path) == served, s"${f.name} $record")
      // the next commit records the cursor it read in its own marker, so
      // the earlier record is not needed any more
      assert(f.compact(path), s"${f.name} $record")
      assert(io.readString(s"$path/CURRENT.v${v + 1}").contains("txn=fold:1"),
        s"${f.name} $record")
      io.deleteFile(legacy)
      f.fold(b1, path, 1L)
      assert(ext.VersionedIndex.currentVersion(spark, path).contains(v + 1), s"${f.name} $record")
      assert(f.content(path) == served, s"${f.name} $record")
    }
  }
}

/** The local filesystem under its own URI scheme, `graftlocal`. Its
  * operations fail once it is closed, as a remote store's do, and it
  * records each file it creates with its `fs.graftlocal.tag` setting.
  */
class SchemeLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  @volatile var closed = false
  private def open(): Unit =
    if (closed) throw new java.io.IOException("Filesystem closed")
  override def close(): Unit = { closed = true; super.close() }
  override def getUri: java.net.URI = java.net.URI.create("graftlocal:///")
  override def getScheme: String = "graftlocal"
  override def getFileStatus(p: Path): FileStatus = { open(); super.getFileStatus(p) }
  override def listStatus(p: Path): Array[FileStatus] = { open(); super.listStatus(p) }
  private def creating(p: Path): Unit = {
    open()
    SchemeLocalFileSystem.created.add((getConf.get("fs.graftlocal.tag", ""), p.toString))
  }
  override def create(p: Path, overwrite: Boolean, buf: Int, rep: Short, block: Long,
                      prog: org.apache.hadoop.util.Progressable) = {
    creating(p)
    super.create(p, overwrite, buf, rep, block, prog)
  }
  override def create(p: Path, perm: FsPermission, overwrite: Boolean, buf: Int,
                      rep: Short, block: Long,
                      prog: org.apache.hadoop.util.Progressable) = {
    creating(p)
    super.create(p, perm, overwrite, buf, rep, block, prog)
  }
}

object SchemeLocalFileSystem {
  /** (tag, path) of every file created through any instance. */
  val created = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
}
