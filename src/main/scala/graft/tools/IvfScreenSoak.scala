package graft.tools

import org.apache.spark.sql.functions._
import graft.streaming.StreamingIvf

/** Superlinearity + throughput soak for the IVF-layout admission screen
  * ([[StreamingIvf.screenBatch]]) — the embedding sibling of
  * `IntakeSoak`: stream a clustered vector corpus through the screen in
  * 8 micro-batches at 1× and 10×, assert the screen's invariants at
  * scale, and report the wall-clock scaling exponent (the screen's cost
  * is Σ_cells(batch×history) in-cell dots — with cell count sized ∝ the
  * corpus, the per-batch cost should stay near-linear).
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.IvfScreenSoak"
  */
object IvfScreenSoak {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.fromEnv(16)

    def runAt(nVecs: Int, k: Int): Double = {
      val corpus = s"/tmp/graft_ivfscreen_$nVecs"
      ScaleSoak.ensureCorpus(spark, corpus, 100, nVecs)
      val dir = java.nio.file.Files.createTempDirectory("ivfscreen").toString + "/index"
      val vecs = spark.read.parquet(s"$corpus/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val per = math.ceil(nVecs / 8.0).toLong

      val t0 = System.nanoTime()
      var flagged = 0L
      (0 until 8).foreach { i =>
        val slice = vecs.filter(col("vec_id") >= i * per && col("vec_id") < (i + 1) * per)
        val v = StreamingIvf.screenBatch(slice, dir, i.toLong,
          nprobe = 2, tau = 0.95, trainOnFirstBatch = true, k = k)
        flagged += v.filter(col("is_near_dup")).count()
      }
      val secs = (System.nanoTime() - t0) / 1e9

      // invariants at scale: one posting per vector (every screened doc
      // ingested), and a replay of the last batch converges
      val postings = StreamingIvf.scanPostings(spark, dir).get
      val nPostings = postings.count()
      assert(nPostings == nVecs, s"postings $nPostings != $nVecs")
      val last = vecs.filter(col("vec_id") >= 7 * per)
      val v1 = StreamingIvf.screenBatch(last, dir, 7L, nprobe = 2, tau = 0.95)
        .collect().map(_.mkString("|")).sorted
      val v2 = StreamingIvf.screenBatch(last, dir, 7L, nprobe = 2, tau = 0.95)
        .collect().map(_.mkString("|")).sorted
      assert(v1.sameElements(v2), "replayed last batch drifted")
      assert(StreamingIvf.scanPostings(spark, dir).get.count() == nPostings,
        "replay must not grow the index")

      println(f"[ivf-screen-soak] vecs=$nVecs k=$k wall=$secs%.1fs " +
        f"throughput=${nVecs / secs}%.0f vec/s flagged=$flagged")
      secs
    }

    // cells sized ∝ corpus (the SemDeDup arrangement): 1× gets 24 cells,
    // 10× gets 240 — keeps E[|cell|] constant so in-cell verify stays flat
    val t1 = runAt(20000, 24)
    val t10 = runAt(200000, 240)
    val exp = math.log(t10 / t1) / math.log(10.0)
    println(f"[ivf-screen-soak] exponent=${exp}%.2f (alarm > 1.3)")
    spark.stop()
  }
}
