package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.CountMinSketch

/** Gates for the count-min aggregate beyond the oracle contract:
  * partition-order invariance (the merge is element-wise addition),
  * split-merge ≡ one-shot, and the structural never-undercount guarantee
  * over EVERY key, not just the heavy ones.
  */
class CountMinSpec extends AnyFunSuite with SparkTestKit {

  import spark.implicits._

  private val (d, w, seed) = (4, 1024, 11)

  private def sketchOf(df: org.apache.spark.sql.DataFrame): IndexedSeq[Long] = {
    df.agg(call_function("count_min_counters", col("ks"), lit(d), lit(w), lit(seed))
      .as("sk")).collect().head.getSeq[Long](0).toIndexedSeq
  }

  private lazy val keys = Tables.lineitem(spark, sfDir)
    .select($"l_partkey".cast("string").as("ks"))

  test("sketch is invariant to partitioning (element-wise merge)") {
    val a = sketchOf(keys.repartition(1))
    val b = sketchOf(keys.repartition(7, $"ks"))
    assert(a == b)
  }

  test("three disjoint splits merged element-wise equal the one-shot sketch") {
    val all = sketchOf(keys)
    val parts = Seq(
      keys.filter(pmod(xxhash64($"ks"), lit(3)) === 0),
      keys.filter(pmod(xxhash64($"ks"), lit(3)) === 1),
      keys.filter(pmod(xxhash64($"ks"), lit(3)) === 2)).map(sketchOf)
    val merged = parts.reduce((x, y) => x.zip(y).map { case (p, q) => p + q })
    assert(merged == all)
  }

  test("the estimate never undercounts ANY key") {
    val sk = sketchOf(keys)
    val exact = Tables.lineitem(spark, sfDir)
      .groupBy($"l_partkey").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0).toString -> r.getAs[Long]("n"))
    exact.foreach { case (k, n) =>
      val est = CountMinSketch.estimate(sk, k, d, w, seed)
      assert(est >= n, s"key $k: estimate $est undercounts true $n")
    }
    // total mass per hash row is exactly the input count
    val total = exact.map(_._2).sum
    (0 until d).foreach { i =>
      assert((i * w until (i + 1) * w).map(sk).sum == total)
    }
  }
}
