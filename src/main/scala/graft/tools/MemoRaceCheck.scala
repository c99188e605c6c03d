package graft.tools

/** r13 scratch: does the session-memoized shingle-postings frame actually
  * materialize its buffers when its first consumers are query subtrees
  * (possibly broadcast futures), and how do d13/d23 time before vs after a
  * FORCED materialization (a direct count on the memo)?
  */
object MemoRaceCheck {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.fromEnv(32)
    spark.sparkContext.setLogLevel("ERROR")
    def t(f: => Any): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    def storage(tag: String): Unit =
      spark.sparkContext.getRDDStorageInfo.foreach(i =>
        println(s"[memorace-storage $tag] rdd=${i.id} " +
          s"cachedParts=${i.numCachedPartitions}/${i.numPartitions} mem=${i.memSize}"))
    val d13 = graft.SparkEntry.queries("d13_ngram_containment")
    val d23 = graft.SparkEntry.queries("d23_minhash_calibration")
    // phase 1: run the queries WITHOUT ever counting the memo directly
    val a1 = t(d13(spark, dir).count()); val a2 = t(d13(spark, dir).count())
    val b1 = t(d23(spark, dir).count()); val b2 = t(d23(spark, dir).count())
    storage("after-queries")
    // phase 2: force-materialize the memo with a direct action, re-time
    val nSh = graft.queries.Dedup.shinglesForCheck(spark, dir)
    val mat = t(nSh.count())
    storage("after-direct-count")
    val a3 = t(d13(spark, dir).count()); val b3 = t(d23(spark, dir).count())
    println(f"[memorace] d13 $a1%.2f/$a2%.2f -> post-mat $a3%.2f; " +
      f"d23 $b1%.2f/$b2%.2f -> post-mat $b3%.2f; memo count took $mat%.2f")
    spark.stop()
  }
}
