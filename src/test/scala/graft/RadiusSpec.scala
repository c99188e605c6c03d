package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Similarity

/** e32_radius_search semantic gates beyond the oracle parity:
  *
  *  1. LOSSLESSNESS — the IVF cell-cap pruned plan returns literally the
  *     brute-force set, on the flat testdata AND on a clustered corpus
  *     (where pruning is actually active — the case the bound exists for).
  *  2. EFFECTIVENESS — on the clustered corpus the bound must prune
  *     (query, cell) pairs; on structure-free data keeping everything is
  *     the correct (and asserted-lossless) behavior, so effectiveness is
  *     only claimed where geometry supports it.
  */
class RadiusSpec extends AnyFunSuite with SparkTestKit {

  import spark.implicits._

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  private def brute(dir: String, tau: Double) = {
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("vec_dot", a, b)
    val e = Tables.embeddings(spark, dir)
    val q = e.filter($"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"),
        sqrt(dot($"embedding", $"embedding")).as("q_nrm"))
    e.crossJoin(broadcast(q))
      .filter($"query_id" =!= $"vec_id")
      .select($"query_id", $"vec_id".as("neighbor_id"), $"label".as("neighbor_label"),
        (dot($"q_emb", $"embedding")
          / ($"q_nrm" * sqrt(dot($"embedding", $"embedding")))).as("cosine"))
      .filter($"cosine" >= tau)
  }

  test("pruned plan == brute force on the flat testdata (tau = 0.25)") {
    assert(canon(Similarity.radiusSearchPlan(spark, sfDir, 0.25))
      == canon(brute(sfDir, 0.25)))
  }

  /** 4 tight clusters, 64-dim, noise sigma 0.05 — the geometry IVF cells
    * capture; within-cluster cosine ~0.99+, cross-cluster ~0.
    */
  private lazy val clusteredDir: String = {
    val dir = "/tmp/graft_radius_clustered"
    val rnd = new scala.util.Random(11L)
    val centers = Array.fill(4, 64)(rnd.nextGaussian().toFloat)
    val rows = (0 until 200).map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(64)(j => centers(c)(j) + 0.05f * rnd.nextGaussian().toFloat).toSeq, c)
    }
    rows.toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "cast(embedding as array<float>) as embedding",
        "cast(label as int) as label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("pruned plan == brute force on a clustered corpus (tau = 0.9)") {
    assert(canon(Similarity.radiusSearchPlan(spark, clusteredDir, 0.9))
      == canon(brute(clusteredDir, 0.9)))
    assert(Similarity.radiusSearchPlan(spark, clusteredDir, 0.9).count() > 0)
  }

  test("the cell cap actually prunes on the clustered corpus") {
    val nCells = graft.operators.IvfIndex.indexQFor(spark, clusteredDir)
      .assigned.select($"cell_id").distinct().count()
    val kept = Similarity.radiusCandCells(spark, clusteredDir, 0.9).count()
    // 8 queries x nCells possible; tight clusters must eliminate most
    assert(kept < 8L * nCells,
      s"no pruning happened: kept $kept of ${8L * nCells} (query, cell) pairs")
  }
}
