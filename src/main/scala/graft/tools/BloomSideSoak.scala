package graft.tools

import org.apache.spark.sql.functions._

/** Measures the bloom-index append-maintenance trade the side indexes
  * exist for (NOTES r10 item): per-append cost of `appendSideIndex`
  * (O(batch)) vs `refreshPartitions` (O(touched partitions)), probe
  * (`candidateParts`) latency as un-folded sides stack up, and the
  * post-fold state. Correctness (no false negatives through sides, fold
  * byte-stability) is spec-gated in BloomIndexSpec; this tool prices it.
  *
  * Run: SPARK_GRAFT_CPUS=16 sbt "runMain graft.tools.BloomSideSoak [partRows] [nAppends]"
  */
object BloomSideSoak {
  def main(args: Array[String]): Unit = {
    val partRows = args.headOption.map(_.toInt).getOrElse(500000)
    val nAppends = args.lift(1).map(_.toInt).getOrElse(16)
    val spark = graft.GraftSession.fromEnv(16)
    import graft.operators.BloomIndex

    val work = java.nio.file.Files.createTempDirectory("bloom-side-soak").toString
    val dataDir = s"$work/data"; val idxDir = s"$work/index"
    val nParts = 8
    // base layout: nParts partitions × partRows rows
    spark.range(nParts.toLong * partRows)
      .select(col("id").as("k"), concat(lit("p"), (col("id") % nParts)).as("part"),
        (col("id") % 97).as("v"))
      .write.partitionBy("part").mode("overwrite").parquet(dataDir)
    def time[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val (_, buildS) = time(BloomIndex.build(spark, dataDir, idxDir, "part", "k",
      expectedPerPartition = partRows * 2L))
    println(f"[bloom-side] base build: $nParts parts x $partRows rows in $buildS%.2f s")

    // appends: 1k-row batches, all into partition p3 (worst locality for a
    // refresh: the touched partition is full-sized)
    val batchRows = 1000
    var appendTotal = 0.0
    (0 until nAppends).foreach { i =>
      val batch = spark.range(batchRows.toLong)
        .select((col("id") + 100000000L + i.toLong * batchRows).as("k"),
          lit("p3").as("part"), lit(0L).as("v"))
      batch.write.partitionBy("part").mode("append").parquet(dataDir)
      val (_, s) = time(BloomIndex.appendSideIndex(spark, idxDir, "part", "k",
        batch, expectedItems = 2L * batchRows))
      appendTotal += s
    }
    println(f"[bloom-side] $nAppends x $batchRows-row side appends: " +
      f"${appendTotal / nAppends}%.3f s/append (total $appendTotal%.2f s)")

    // the O(partition) alternative priced once for comparison
    val (_, refreshS) = time(BloomIndex.refreshPartitions(spark, dataDir, idxDir,
      "part", "k", Seq("p3"), expectedPerPartition = partRows * 2L))
    println(f"[bloom-side] refreshPartitions(p3) for comparison: $refreshS%.2f s " +
      f"(${refreshS / (appendTotal / nAppends)}%.0fx one side append)")

    // probe latency vs side count (sides were consumed by the refresh? NO —
    // refreshPartitions does not drop sides; they still stack)
    def probe(label: String): Unit = {
      val keys = Seq(5L, 100000000L + 7L, 100000000L + (nAppends - 1).toLong * batchRows + 3L)
      val (_, s) = time(keys.foreach { k =>
        val c = BloomIndex.candidateParts(spark, idxDir, k)
        assert(c.nonEmpty || k > nParts.toLong * partRows, s"lost key $k")
      })
      println(f"[bloom-side] probe x3 $label: $s%.3f s")
    }
    probe(s"with $nAppends sides")
    val (folded, foldS) = time(BloomIndex.compactSides(spark, dataDir, idxDir,
      "part", "k", expectedPerPartition = partRows * 2L))
    println(f"[bloom-side] compactSides folded ${folded.size} parts in $foldS%.2f s")
    probe("after fold (0 sides)")

    // every appended key still routes post-fold
    val k0 = 100000000L + 7L
    assert(BloomIndex.candidateParts(spark, idxDir, k0).contains("p3"),
      "appended key lost after fold")
    spark.stop()
  }
}
