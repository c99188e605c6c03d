package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.StreamingIvf

/** Measures what a hot-cell SPLIT actually buys under ingest skew
  * (correctness is spec-pinned in StreamingIvfSplitSpec; this prices
  * it): stream a skewed corpus (80% of vectors in one tight cluster)
  * into the maintained IVF index, let the load audit flag the hot cell,
  * split it mid-stream at a drain boundary, and compare probe cost
  * before/after — in-cell candidate rows (deterministic) and wall
  * clock. Then keep ingesting to show the evolved codebook serves the
  * live stream.
  *
  * Run: SPARK_GRAFT_CPUS=16 sbt "runMain graft.tools.IvfSplitSoak [nVecs]"
  */
object IvfSplitSoak {
  def main(args: Array[String]): Unit = {
    val nVecs = args.headOption.map(_.toInt).getOrElse(100000)
    val spark = graft.GraftSession.fromEnv(16)

    // the realistic skew: the codebook trains on BALANCED early data
    // (batch 0 spreads evenly over 8 axis clusters), then the ingest
    // distribution shifts — 80% of every later vector lands in the
    // axis-0 cluster, which the frozen codebook serves with ~1 cell.
    // Training on the skew would just re-balance it (measured: the
    // first draft trained ON the hot mix and Lloyd absorbed it); the
    // hot-cell problem is inherently a train-then-drift problem.
    // Deterministic hash noise (no Random — regenerable).
    val per = math.ceil(nVecs / 6.0).toLong
    def vecsBetween(lo: Long, hi: Long): DataFrame =
      spark.range(lo, hi).select(col("id").as("vec_id"),
        expr(s"""transform(sequence(0, 31), j -> cast(
                  (CASE WHEN (id < $per AND j = id % 8)
                         OR (id >= $per AND id % 10 < 8 AND j = 0)
                         OR (id >= $per AND id % 10 >= 8 AND j = (id % 7) + 1)
                        THEN 10.0 ELSE 0.0 END)
                  + (pmod(xxhash64(id, j), 600) - 300) / 1000.0 AS float))""")
          .as("embedding"),
        lit(0).as("label"))

    val dir = java.nio.file.Files.createTempDirectory("ivfsplit-soak").toString + "/index"
    (0 until 6).foreach { i =>
      StreamingIvf.ingestBatch(vecsBetween(i * per, math.min((i + 1) * per, nVecs)),
        dir, i.toLong, trainOnFirstBatch = true, k = 8)
    }

    def cellSizes(): Map[Int, Long] =
      StreamingIvf.scanPostings(spark, dir).get
        .groupBy(col("cell_id")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    def time[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // hot-cluster probes (a realistic workload probes where the data is)
    val probes = vecsBetween(0, nVecs).filter(col("vec_id") % 12500 === 0)
    def probeOnce(): (Set[String], Double) = {
      def run() = time(StreamingIvf.probe(spark, dir, probes, nprobe = 1, topK = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .collect().map(_.mkString("|")).toSet)
      val (r1, t1) = run(); val (_, t2) = run()
      (r1, math.min(t1, t2))
    }

    val hot = StreamingIvf.hotCells(spark, dir, thresholdPpm = 3000000L)
    val pre = cellSizes()
    val (_, preWall) = probeOnce()
    println(f"[ivf-split-soak] pre: cells=${pre.size} " +
      f"maxCell=${pre.values.max} hot=$hot probeWall=$preWall%.2fs")
    assert(hot.nonEmpty, "engineered skew must flag a hot cell")

    // recall gate across the swing: full-nprobe top-1 must equal brute
    // force BEFORE and AFTER the split (the lossless contract, priced
    // here on the soak corpus, pinned in StreamingIvfSplitSpec)
    import org.apache.spark.sql.DataFrame
    def bruteTop1(corpus: DataFrame): Set[String] = {
      val d = (a: String, b: String) => call_function("vec_dot", col(a), col(b))
      probes.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
        .crossJoin(corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb")))
        .filter(col("query_id") =!= col("n_id"))
        .select(col("query_id"), col("n_id"),
          (d("q_emb", "n_emb") / (sqrt(d("q_emb", "q_emb")) * sqrt(d("n_emb", "n_emb"))))
            .as("cos"))
        .withColumn("rk", row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(desc("cos"), col("n_id"))))
        .filter(col("rk") === 1).select(col("query_id"), col("n_id"))
        .collect().map(_.mkString("|")).toSet
    }
    def fullProbeTop1(nprobe: Int): Set[String] =
      StreamingIvf.probe(spark, dir, probes, nprobe = nprobe, topK = 1)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(_.mkString("|")).toSet
    val brute = bruteTop1(vecsBetween(0, nVecs))
    assert(fullProbeTop1(pre.size) == brute,
      "pre-split full probe must equal brute force")

    // the production maintenance loop: rounds of hotCells -> split until
    // the load audit goes quiet (or maxRounds). Round 1 typically
    // separates the point-mass from the stragglers that happened to share
    // its cell; later rounds cut the point-mass itself along its noise
    // diameter — each round halves maxCell only once the cell is a pure
    // blob, which is why a single split is NOT the whole story at scale.
    val maxRounds = args.drop(1).headOption.map(_.toInt).getOrElse(4)
    var round = 0
    var post = pre
    while (round < maxRounds &&
        StreamingIvf.hotCells(spark, dir, thresholdPpm = 3000000L).nonEmpty) {
      val cells = StreamingIvf.hotCells(spark, dir, thresholdPpm = 3000000L)
      val (splits, splitWall) = time(
        cells.map(c => c -> StreamingIvf.splitCell(spark, dir, c)))
      post = cellSizes()
      val (_, w) = probeOnce()
      round += 1
      println(f"[ivf-split-soak] round $round: split $splits in " +
        f"$splitWall%.1fs -> cells=${post.size} maxCell=${post.values.max} " +
        f"probeWall=$w%.2fs")
    }
    val (_, postWall) = probeOnce()
    assert(post.values.sum == pre.values.sum, "split lost or duplicated postings")
    assert(post.values.max < pre.values.max,
      "splitting must shrink the largest cell")
    assert(fullProbeTop1(post.size) == brute,
      "post-split full probe must equal brute force (recall held across the swing)")

    // the evolved codebook serves the live stream
    StreamingIvf.ingestBatch(vecsBetween(nVecs.toLong, nVecs + 2000L), dir, 99L)
    val after = cellSizes()
    assert(!after.contains(hot.head), "retired id resurfaced after ingest")
    assert(after.values.sum == pre.values.sum + 2000)
    println(f"[ivf-split-soak] post-split ingest ok; $round rounds, " +
      f"maxCell ${pre.values.max} -> ${post.values.max} " +
      f"(${100.0 * post.values.max / pre.values.max}%.0f%%), " +
      f"probe $preWall%.2fs -> $postWall%.2fs")
    spark.stop()
  }
}
