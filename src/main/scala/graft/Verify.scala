package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The session the gates run under: `local[SPARK_GRAFT_CPUS]` with as
    * many shuffle partitions, UTC session time, and the FileSystem-based
    * streaming checkpoint manager (see `Bench`). `Explain` captures plans
    * under the same session.
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager")
      .getOrCreate()
  }

  /** Whether gate `name` is in the comma-separated `SPARK_GRAFT_ONLY`
    * subset (every gate when it is unset) — a local-iteration filter; the
    * driver runs without it and dumps everything.
    */
  def selected(name: String): Boolean =
    sys.env.get("SPARK_GRAFT_ONLY")
      .forall(_.split(",").map(_.trim).filter(_.nonEmpty).contains(name))

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = session()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => selected(q._1)).foreach { case (name, fn) =>
      try {
        val result = fn(spark, sfDir)
        // Result DUMPS must stay INT96 (tz-naive in pandas) so the driver's
        // repr-based hash compare lines up with DuckDB's naive timestamps —
        // warehouse queries flip the session default to TIMESTAMP_MICROS
        // (Datastream ctor, for parquet stats) and that must not leak into
        // the dump files' physical type.
        spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
        result.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(o => selected(o._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
