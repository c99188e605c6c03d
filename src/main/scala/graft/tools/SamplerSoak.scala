package graft.tools

import org.apache.spark.sql.functions._

/** Long-stream soak for [[graft.streaming.StreamingSampler]] — the claim
  * under test is the one its design rests on: per-batch cost is FLAT in
  * stream length, because the carried state is never more than
  * k·|sources| rows regardless of how many batches (or docs) have been
  * ingested. A naive implementation that re-reads history would show
  * cost growing linearly with batch index; the snapshot-ledger merge
  * must not.
  *
  * Drives N batches of `docsPerBatch` synthetic docs through
  * `processBatch`, reports the mean per-batch wall time of the first and
  * last deciles and the growth ratio, then END-TO-END verifies the final
  * snapshot against a batch t38 rerun over every doc ever fed (the
  * decomposition equality at soak scale, not just spec scale).
  *
  * Run: SPARK_GRAFT_CPUS=16 sbt "runMain graft.tools.SamplerSoak [nBatches] [docsPerBatch]"
  */
object SamplerSoak {
  def main(args: Array[String]): Unit = {
    val nBatches = args.headOption.map(_.toInt).getOrElse(200)
    val docsPerBatch = args.lift(1).map(_.toInt).getOrElse(1000)
    val spark = graft.GraftSession.fromEnv(16)
    import spark.implicits._

    val dir = "/tmp/graft_sampler_soak"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)

    def batchDf(b: Int) = {
      val base = b.toLong * docsPerBatch
      spark.range(base, base + docsPerBatch).select(
        $"id".as("doc_id"),
        // deterministic 1..16-word payload
        concat_ws(" ", sequence(lit(0), pmod($"id" * 31, lit(16)))
          .cast("array<string>")).as("text"),
        concat(lit("src"), pmod($"id", lit(20)).cast("string")).as("source"))
    }

    val times = (0 until nBatches).map { b =>
      val df = batchDf(b)
      val t0 = System.nanoTime()
      graft.streaming.StreamingSampler.processBatch(spark, df, b.toLong, dir)
      (System.nanoTime() - t0) / 1e9
    }
    val firstDecile = times.slice(nBatches / 20, nBatches / 10) // skip JIT warm-up
    val lastDecile = times.takeRight(nBatches / 10)
    val mFirst = firstDecile.sum / firstDecile.size
    val mLast = lastDecile.sum / lastDecile.size
    println(f"| batches | docs/batch | first-decile s/batch | last-decile s/batch | growth |")
    println(f"| $nBatches | $docsPerBatch | $mFirst%.3f | $mLast%.3f | ${mLast / mFirst}%.2f× |")

    // end-to-end equality at soak scale
    val all = (0 until nBatches).map(batchDf).reduce(_ unionByName _)
    val scored = graft.streaming.StreamingSampler.scored(all)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"sel_key", $"doc_id")
    val want = scored.withColumn("rn", row_number().over(w))
      .filter($"rn" <= graft.streaming.StreamingSampler.defaultK).drop("rn")
      .collect().map(_.mkString("|")).sorted.toSeq
    val got = graft.streaming.StreamingSampler.sample(spark, dir)
      .collect().map(_.mkString("|")).sorted.toSeq
    println(s"| final sample == batch rerun over ${nBatches.toLong * docsPerBatch} docs: ${got == want} |")
    require(got == want, "maintained sample diverged from the batch rerun")
    spark.stop()
  }
}
