package graft

/** Plan-audit tool: prints the formatted physical plan of each registered
  * query (or the SPARK_GRAFT_ONLY subset) so pushdown, broadcast, partial
  * aggregation, and codegen spans can be inspected per round. Plans are
  * captured under the gates' own session ([[Verify.session]]).
  *
  * Usage: sbt "runMain graft.Explain <sfDir>"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Verify.session()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => Verify.selected(name) }
      .foreach { case (name, fn) =>
        println(s"\n===================== $name =====================")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
