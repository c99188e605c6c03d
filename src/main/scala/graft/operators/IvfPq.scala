package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** IVF × PQ — the two ANN axes composed the way FAISS composes them
  * (Jégou et al., TPAMI 2011; the IVFPQ index family): the quantized
  * IVF cells bound the CANDIDATES (each probe searches `nprobe` cells ≈
  * nprobe/k of the corpus) while the PQ codes bound the MEMORY (the
  * candidate scan reads m one-byte codes per row, not raw vectors), and
  * a small exact re-rank of the ADC shortlist restores accuracy.
  *
  * Composition choice: the codes come from the GLOBAL per-subspace
  * codebooks (e7's), not per-cell residual codebooks — with a global
  * codebook the two indexes stay independently buildable/cacheable and
  * the whole pipeline remains integer-exact (hash-gated,
  * `e9_ivfpq_ann`). Both indexes are the session-memoized builds shared
  * with e4 and e7 — composing costs no extra training.
  *
  * MEASURED LIMIT (SCALE.md r5 frontier, 100k clustered corpus): global
  * codes collapse within-cluster detail — every member of a tight
  * cluster encodes to near-identical codes, ADC ties, and recall@1 of a
  * genuinely close neighbor caps at ~0.17 REGARDLESS of kIvf, nprobe, or
  * shortlist ≤ 32. That is structural, not a tuning problem. When
  * within-cluster ranking matters (near-dup retrieval, semantic pairs),
  * use [[IvfPqResidual]] with corpus-sized cells (kIvf ≈ √N): residual
  * codes encode exactly the within-cell offsets and measured 0.86–0.88
  * at the same memory and LOWER latency. e9 remains the right shape when
  * cells are coarse filters and the shortlist re-rank does the deciding.
  *
  * Scale shape (10⁹–10¹² vectors): probe→cell ranking is a k-row
  * broadcast; the candidate scan touches nprobe/k of the CODES table
  * (32× smaller than the vectors); only the shortlist rows (a constant
  * per probe) ever fetch raw vectors. No stage touches more than its
  * bound; nothing self-joins.
  */
object IvfPq {

  private val postingsMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Int, String), DataFrame]()

  /** The composed IVFPQ POSTINGS `(cell_id, vec_id, codes)` — FAISS's
    * inverted-list layout, materialized: the cell assignment and the PQ
    * codes are joined ONCE per (session, dir, kIvf) index build and
    * persisted, so every query reads the at-rest index instead of
    * re-running a corpus-wide assigned⋈encoded shuffle join per
    * evaluation (the r11 e9 watch-list finding: the per-run SortMergeJoin
    * was most of e9's repeated cost; at 100 TB it would be a full
    * re-shuffle of the codes table per query batch). Same
    * fingerprint-retirement lifecycle as [[PqIndex.indexFor]].
    */
  def postingsFor(spark: SparkSession, dir: String, kIvf: Int = 16): DataFrame = {
    val fp = graft.queries.Memo.fingerprint(spark, dir)
    val it = postingsMemo.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      // retire EVERY stale-fingerprint entry for this (session, dir) —
      // not just the current kIvf's: a data-dir rewrite invalidates the
      // postings built at any kIvf, and entries matched only on their own
      // kIvf would otherwise stay persisted until clearPostings (r12
      // ADVICE executor-storage leak)
      val (es, ed, _, efp) = e.getKey
      if ((es eq spark) && ed == dir && efp != fp) {
        e.getValue.unpersist()
        it.remove()
      }
    }
    postingsMemo.computeIfAbsent((spark, dir, kIvf, fp), { _ =>
      val ivf = IvfIndex.indexQFor(spark, dir, kIvf)
      val pq = PqIndex.indexFor(spark, dir)
      ivf.assigned.select(col("cell_id"), col("vec_id"))
        .join(pq.encoded.select(col("vec_id"), col("codes")), Seq("vec_id"))
        .persist()
    })
  }

  def clearPostings(spark: SparkSession): Unit = {
    val it = postingsMemo.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq spark) { e.getValue.unpersist(); it.remove() }
    }
  }

  /** Top-1 per probe: IVF cells (nprobe) → integer ADC over codes within
    * those cells → shortlist → exact fold-dot re-rank.
    *
    * Per-query plan shape (the r11 e9 adjudication): the corpus side is
    * ONE in-memory scan of the materialized [[postingsFor]] inverted
    * lists; both probe-derived sides (≤ nProbes·nprobe cell rows, ≤
    * nProbes ADC tables) broadcast; both top-k cuts run on the native
    * bounded-heap [[graft.plans.TopKPerGroup]] instead of window sorts —
    * so the only exchanges left move ≤ k rows per probe, and nothing
    * corpus-sized shuffles at any scale.
    */
  def query(spark: SparkSession, dir: String, nProbes: Int = 16,
      nprobe: Int = 4, shortlist: Int = 32, kIvf: Int = 16): DataFrame = {
    val ivf = IvfIndex.indexQFor(spark, dir, kIvf) // cells (shared with e4/e8)
    val pq = PqIndex.indexFor(spark, dir)      // codes (shared with e7)
    val postings = postingsFor(spark, dir, kIvf)
    val probes = Tables.embeddings(spark, dir).filter(col("vec_id") < nProbes)

    // probe → nprobe nearest cells by exact integer centroid distance
    val probeCells = IvfIndex.probeCells(probes, ivf, nprobe)

    val probeT = probes
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        PqIndex.quantizeCol(col("embedding")).as("pq"))
      .select(col("query_id"), col("q_emb"),
        PqIndex.adcTable(probes.sparkSession, pq, col("pq")).as("dt"))
    // candidates = the probe's cells read from the inverted lists — the
    // raw-vector column never enters; probe sides broadcast (post-window
    // stats would otherwise read "unknown" and plan a shuffle join)
    val adcCand = postings
      .join(broadcast(probeCells), Seq("cell_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .join(broadcast(probeT), Seq("query_id"))
      .select(col("query_id"), col("q_emb"), col("vec_id").as("neighbor_id"),
        PqIndex.adcDistance(col("dt"), col("codes")).as("approx_d2"))
    val shortlisted = graft.plans.TopKPerGroup.topK(adcCand,
      groupCols = Seq("query_id"),
      orderBy = Seq(("approx_d2", true), ("neighbor_id", true)), k = shortlist)

    // exact re-rank: only the shortlist fetches raw vectors (the corpus
    // scan streams against the broadcast ≤ nProbes·shortlist-row side)
    val raw = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("neighbor_id"), col("embedding"),
        col("label").as("neighbor_label"))
    val exactD2 =
      call_function("vec_dot", col("q_emb"), col("q_emb")) -
        lit(2.0) * call_function("vec_dot", col("q_emb"), col("embedding")) +
        call_function("vec_dot", col("embedding"), col("embedding"))
    val reranked = raw
      .join(broadcast(shortlisted.select(col("query_id"), col("q_emb"),
        col("neighbor_id"))), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("neighbor_label"),
        exactD2.as("exact_d2"))
    graft.plans.TopKPerGroup.topK(reranked,
      groupCols = Seq("query_id"),
      orderBy = Seq(("exact_d2", true), ("neighbor_id", true)), k = 1)
      .select(col("query_id"), col("neighbor_id"), col("neighbor_label"),
        col("exact_d2"))
  }

  /** The whole composition replayed in DuckDB: the shared IVF Lloyd CTEs
    * (cells), the shared PQ train/encode CTEs (codes), then cell-bounded
    * integer ADC + exact re-rank. Every stage is integer-exact or
    * fold-dot — hash-exact end to end.
    */
  def oracleSql(nProbes: Int = 16, nprobe: Int = 4, shortlist: Int = 32,
      ivfIters: Int = 3, pqIters: Int = 10, dims: Int = 64): String = {
    def qd2(a: String, b: String) = IvfIndex.qd2Sql(a, b)
    def dot(a: String, b: String) = IvfIndex.dotSql(a, b)
    val fin = ivfIters + 1
    s"""WITH ${IvfIndex.lloydCtes(16, ivfIters, dims)},
       |${PqIndex.pqTrainEncodeCtes(pqIters, dims)},
       |probe_cells AS (
       |  SELECT query_id, cell_id FROM (
       |    SELECT v.vec_id AS query_id, c.cell_id,
       |           row_number() OVER (PARTITION BY v.vec_id
       |                              ORDER BY ${qd2("v.q", "c.cq")}, c.cell_id) AS rn
       |    FROM (SELECT * FROM qv WHERE vec_id < $nProbes) v
       |    CROSS JOIN cents$ivfIters c) WHERE rn <= $nprobe),
       |pdt AS (
       |  SELECT p.vec_id AS query_id, p.j, c.c, ${qd2("p.sv", "c.cq")} AS d
       |  FROM (SELECT * FROM vsub WHERE vec_id < $nProbes) p
       |  JOIN cb$pqIters c ON p.j = c.j),
       |adc AS (
       |  SELECT pc.query_id, e.vec_id AS neighbor_id, CAST(sum(pd.d) AS BIGINT) AS approx_d2
       |  FROM probe_cells pc
       |  JOIN assign$fin a ON a.cell_id = pc.cell_id AND a.vec_id <> pc.query_id
       |  JOIN enc e ON e.vec_id = a.vec_id
       |  JOIN pdt pd ON pd.query_id = pc.query_id AND pd.j = e.j AND pd.c = e.c
       |  GROUP BY 1, 2),
       |short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY approx_d2, neighbor_id) AS rnk
       |    FROM adc) WHERE rnk <= $shortlist),
       |ref AS (
       |  SELECT s.query_id, s.neighbor_id, e.label AS neighbor_label,
       |         (${dot("p.embedding", "p.embedding")}
       |           - (CAST(2.0 AS DOUBLE) * ${dot("p.embedding", "e.embedding")}))
       |           + ${dot("e.embedding", "e.embedding")} AS exact_d2
       |  FROM short s JOIN qv p ON s.query_id = p.vec_id
       |               JOIN qv e ON s.neighbor_id = e.vec_id)
       |SELECT query_id, neighbor_id, neighbor_label, exact_d2 FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY exact_d2, neighbor_id) AS rnk
       |  FROM ref) WHERE rnk = 1""".stripMargin
  }
}
