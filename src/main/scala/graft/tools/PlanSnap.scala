package graft.tools

/** Plan capture: write `.explain("formatted")` for each named registry
  * query to `<outDir>/<name>_<suffix>.txt`, all in one session (one
  * query or a dozen before/after plans).
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.PlanSnap \
  *   <outDir> <suffix> <sfDir> <name> [name ...]"
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = args(2)
    val names = args.drop(3)
    val spark = graft.GraftSession.fromEnv(32)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      // execute through the noop sink first (guide §1.4) so the dumped
      // plan is AQE's FINAL plan (runtime join strategies, coalesced
      // reads), not the initial estimate-based one
      try df.write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        println(s"[plansnap] $name noop run failed: ${e.getMessage}") }
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), plan)
      println(s"[plansnap] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
