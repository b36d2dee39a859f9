package graft

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def ts(s: String): Timestamp = Timestamp.from(Instant.parse(s))

  /** Tiny raw-datapoint frame: (stream_id, ts, value[, event_id]). */
  def dp(rows: Seq[(String, String, Double)]): DataFrame = {
    import spark.implicits._
    rows.zipWithIndex
      .map { case ((sid, t, v), i) => (sid, ts(t), v, i.toLong) }
      .toDF("stream_id", "ts", "value", "event_id")
  }

  /** Every entry under `dir` (relative path, byte length), sorted: equal
    * before and after a call shows the call wrote nothing there.
    */
  def treeOf(dir: String): Seq[(String, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.toSeq
        .map(p => (root.relativize(p).toString, p.toFile.length)).sorted
    } finally walk.close()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
