package graft.tools

/** Dev tool: print a registry query's physical plan (local debugging of
  * PlanSpec findings; not part of the library surface).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.fromEnv(4)
    spark.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    println(df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    spark.stop()
  }
}
