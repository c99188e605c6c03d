package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SemDeDup — semantic deduplication of a corpus by embedding clusters
  * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
  * through semantic deduplication", arXiv:2303.09540): k-means-cluster the
  * embeddings, compare pairs ONLY within a cluster, and drop every vector
  * that has a sufficiently-similar retained neighbor. The clusters turn an
  * O(n²) all-pairs problem into Σ O(|cell|²) with |cell| ≈ n/k — the paper
  * runs this at web scale by growing k with the corpus.
  *
  * Dedup rule (deterministic, one distributed pass): a vector is REMOVED
  * iff some LOWER-id vector in the same cell has cosine ≥ τ with it. The
  * min-id member of every in-cell similarity clique therefore always
  * survives; chains (a~b, b~c, a̸~c) may prune slightly more than a
  * sequential greedy sweep — the standard trade for a join-shaped,
  * order-independent formulation.
  *
  * Scale notes (10⁹+ vectors): reuses the session's IVF index
  * ([[IvfIndex.indexFor]] — k-means train/assign off the query path); the
  * pair step is an EQUI-join on `cell_id` (no cartesian — plan-asserted in
  * SemDedupSpec); per-cell pair volume is bounded by cell size, tuned by
  * k, never by corpus size; the exact cosine uses the native codegen
  * `vec_dot`. k here is 16 for the test corpus — at real scale k grows
  * with n (paper: tens of thousands of clusters) keeping cells constant.
  */
object SemDedup {

  /** Per-vector verdict: `(vec_id, cell_id, keep)`, ordered by vec_id.
    * Clusters come from the quantized integer-Lloyd index
    * ([[IvfIndex.indexQFor]]) — exact-portable, so e8 carries a DuckDB
    * hash gate; the brute-force-per-cell equivalence in SemDedupSpec
    * holds for any clustering and is unchanged.
    */
  def run(spark: SparkSession, dir: String, k: Int = 16,
      tau: Double = 0.40): DataFrame =
    verdicts(IvfIndex.indexQFor(spark, dir, k).assigned, tau)

  /** The dedup pass itself over a `(vec_id, embedding, cell_id)` cluster
    * assignment — split out from [[run]] so the pair-join shape is
    * assertable (and the rule unit-testable) without the cached IVF build
    * plan in the way.
    */
  def verdicts(assigned: DataFrame, tau: Double): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val v = assigned
      .select($"cell_id", $"vec_id", $"embedding",
        sqrt(call_function("vec_dot", $"embedding", $"embedding")).as("nrm"))
    val a = v.select($"cell_id", $"vec_id".as("vec_a"), $"embedding".as("e_a"),
      $"nrm".as("n_a"))
    val b = v.select($"cell_id".as("cell_b"), $"vec_id".as("vec_b"),
      $"embedding".as("e_b"), $"nrm".as("n_b"))
    // the n_a > 0 / n_b > 0 guard keeps a zero vector from removing its
    // cellmates: 0/0 is NaN, and Spark orders NaN ABOVE every double, so
    // an unguarded `NaN >= tau` is true
    val removed = a.join(b, $"cell_id" === $"cell_b" && $"vec_a" < $"vec_b")
      .filter($"n_a" > 0 && $"n_b" > 0 &&
        call_function("vec_dot", $"e_a", $"e_b") / ($"n_a" * $"n_b") >= tau)
      .select($"vec_b".as("vec_id")).distinct()
      .withColumn("keep", lit(false))
    v.select($"vec_id", $"cell_id")
      .join(removed, Seq("vec_id"), "left")
      .select($"vec_id", $"cell_id", coalesce($"keep", lit(true)).as("keep"))
      .orderBy($"vec_id")
  }

  /** Driver-gated entry (`e8_semdedup`), hash-exact vs
    * [[semdedupOracleSql]]: cell_id cast to BIGINT so both engines emit
    * the same integer width.
    */
  def semdedupQuery(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    run(spark, dir).select($"vec_id", $"cell_id".cast("long").as("cell_id"), $"keep")
  }

  /** The identical pipeline in DuckDB: the shared quantized-Lloyd CTEs
    * ([[IvfIndex.lloydCtes]]) produce the same cell assignment, then the
    * same lower-id-removes rule over in-cell pairs with the e1 fold-dot
    * cosine (bit-identical) and the same zero-norm guard.
    */
  def semdedupOracleSql(k: Int = 16, iters: Int = 3, tau: Double = 0.40): String = {
    def dot(a: String, b: String) = IvfIndex.dotSql(a, b)
    val fin = iters + 1
    s"""WITH ${IvfIndex.lloydCtes(k, iters)},
       |v AS MATERIALIZED (
       |  SELECT a.cell_id, a.vec_id, e.embedding,
       |         sqrt(${dot("e.embedding", "e.embedding")}) AS nrm
       |  FROM assign$fin a JOIN qv e ON a.vec_id = e.vec_id),
       |removed AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM v a JOIN v b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
       |  WHERE a.nrm > 0 AND b.nrm > 0
       |    AND ${dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= CAST($tau AS DOUBLE))
       |SELECT v.vec_id, CAST(v.cell_id AS BIGINT) AS cell_id,
       |       (r.vec_id IS NULL) AS keep
       |FROM v LEFT JOIN removed r ON v.vec_id = r.vec_id
       |ORDER BY v.vec_id""".stripMargin
  }
}
