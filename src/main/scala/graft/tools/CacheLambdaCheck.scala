package graft.tools

import org.apache.spark.sql.functions._

/** r13 scratch: does a .cache()d plan containing a higher-order-function
  * lambda (transform/sequence) get MATCHED when an identical DataFrame is
  * rebuilt from scratch (the bench's warm-then-time pattern)? Suspected
  * no — lambda variable ExprIds differ per analysis and defeat
  * canonicalized-plan equality.
  */
object CacheLambdaCheck {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.fromEnv(4)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def lambdaDf() = graft.Tables.spread(
        graft.Tables.documents(spark, dir).select($"doc_id", $"source", $"text"))
      .select($"doc_id", ($"source" === "src0").as("tgt"), split($"text", " ").as("w"))
      .select($"doc_id", $"tgt", explode(expr(
        """CASE WHEN size(w) >= 2
          |  THEN transform(sequence(1, size(w) - 1),
          |         i -> concat_ws(' ', w[i-1], w[i]))
          |  ELSE cast(array() AS array<string>) END""".stripMargin)).as("g"))
      .select($"doc_id", $"tgt", substring(md5($"g"), 1, 2).as("b"))
      .groupBy($"doc_id", $"tgt", $"b").agg(count(lit(1)).as("cnt"))
    def storage(tag: String): Unit =
      spark.sparkContext.getRDDStorageInfo.foreach(i =>
        println(s"[cachecheck-storage $tag] rdd=${i.id} " +
          s"cachedParts=${i.numCachedPartitions}/${i.numPartitions} mem=${i.memSize}"))
    def plainDf() = graft.Tables.documents(spark, dir)
      .select($"doc_id", explode(split($"text", " ")).as("g"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n"))

    def t(f: => Any): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    val build = t(lambdaDf().cache().count())
    val reread1 = t(lambdaDf().count())
    val reread2 = t(lambdaDf().count())
    val hitLambda = lambdaDf().queryExecution.optimizedPlan.toString
      .contains("InMemoryRelation")
    plainDf().cache().count()
    val hitPlain = plainDf().queryExecution.optimizedPlan.toString
      .contains("InMemoryRelation")
    println(f"[cachecheck] lambda-plan cache hit: $hitLambda; plain-plan cache hit: $hitPlain; " +
      f"build $build%.2f s, reread $reread1%.2f / $reread2%.2f s")
    val full = graft.SparkEntry.queries("t18_importance_weight")
    val w0 = t(full(spark, dir).count())
    storage("after-run1")
    val w1 = t(full(spark, dir).count())
    val w2 = t(full(spark, dir).count())
    storage("after-run3")
    println(f"[cachecheck] t18 full: $w0%.2f then $w1%.2f / $w2%.2f s")
    val dfq = full(spark, dir)
    val imrs = dfq.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r }
    println(s"[cachecheck] t18 optimized plan InMemoryRelation count: ${imrs.size}")
    println(dfq.queryExecution.optimizedPlan.toString.linesIterator
      .take(40).map("[cachecheck-plan] " + _).mkString("\n"))
    spark.stop()
  }
}
