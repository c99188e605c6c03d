package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** IVF (inverted-file) approximate nearest neighbor over the embeddings
  * table — the production-scale complement to the sign-bucket LSH in
  * `graft.queries.Similarity`:
  *
  *  1. TRAIN: seeded k-means (MLlib, distributed) over a sample → k cell
  *     centroids (tiny; broadcastable).
  *  2. ASSIGN: each vector joins the broadcast centroid table, keeps its
  *     nearest cell (`min_by` over exact L2) — one narrow pass; the
  *     assignment is the partition key of the stored index.
  *  3. QUERY: a probe ranks centroids, takes its `nprobe` nearest cells,
  *     and searches ONLY those cells with exact cosine rerank.
  *
  * Scale notes (10⁹–10¹² vectors): the corpus never self-joins — every
  * join is vectors × centroids (k rows, broadcast) or probes × cell
  * contents (1/k of the corpus per probe cell). `nprobe = k` degrades to
  * exact brute force (tested as the correctness gate); recall/latency is
  * tuned by (k, nprobe) exactly as in FAISS-style IVF-Flat.
  */
object IvfIndex {

  final case class Ivf(centroids: DataFrame, assigned: DataFrame)

  private def l2sq(a: Column, b: Column): Column = {
    // |a|² − 2a·b + |b|² with the native dot — avoids a zip_with per pair
    call_function("vec_dot", a, a) - lit(2.0) * call_function("vec_dot", a, b) +
      call_function("vec_dot", b, b)
  }

  /** Train the cell centroids (seeded → deterministic) and assign every
    * vector to its nearest cell.
    */
  def build(spark: SparkSession, vectors: DataFrame, k: Int = 16, seed: Long = 42L,
      maxIter: Int = 8): Ivf = {
    val ds = vectors.withColumn("features", array_to_vector(col("embedding")))
    // few Lloyd iterations suffice: IVF needs a *partitioning*, not optimal
    // centroids — recall is governed by nprobe, and the nprobe=k exactness
    // gate (IvfDupSpec) holds for ANY centroid set
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("features").fit(ds)
    val centroids = spark.createDataFrame(
      model.clusterCenters.zipWithIndex.map { case (c, i) =>
        (i, c.toArray.map(_.toFloat))
      }.toIndexedSeq).toDF("cell_id", "centroid")

    val joined = vectors
      .join(broadcast(centroids))
      .select(col("vec_id"), col("embedding"), col("label"), col("cell_id"),
        l2sq(col("embedding"), col("centroid")).as("d2"))
    val assigned = joined
      .groupBy(col("vec_id"))
      .agg(
        min_by(col("cell_id"), col("d2")).as("cell_id"),
        first(col("embedding")).as("embedding"),
        first(col("label")).as("label"))
    Ivf(centroids, assigned)
  }

  /** Top-1 neighbor per probe, searching the probe's `nprobe` nearest
    * cells. `nprobe == k` is exact brute force.
    */
  def query(spark: SparkSession, ivf: Ivf, probes: DataFrame, nprobe: Int): DataFrame = {
    val probeCells = probes
      .join(broadcast(ivf.centroids))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("cell_id"), l2sq(col("embedding"), col("centroid")).as("d2"))
      .withColumn("cell_rank",
        row_number().over(Window.partitionBy(col("query_id")).orderBy(col("d2"), col("cell_id"))))
      .filter(col("cell_rank") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("cell_id"))

    val qNorm = sqrt(call_function("vec_dot", col("q_emb"), col("q_emb")))
    val cNorm = sqrt(call_function("vec_dot", col("embedding"), col("embedding")))
    val sims = probeCells
      .join(ivf.assigned, Seq("cell_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"),
        col("vec_id").as("neighbor_id"), col("label").as("neighbor_label"),
        (call_function("vec_dot", col("q_emb"), col("embedding")) / (qNorm * cNorm)).as("cosine"))
    sims
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(desc("cosine"), col("neighbor_id"))))
      .filter(col("rank") === 1)
      .drop("rank")
  }

  private val indexMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String, Int), Ivf]()

  /** Build-once index per (session, dir, dir-fingerprint, k): train +
    * assign happen the first time, then persist — queries against the
    * index never re-train. This is the real IVF lifecycle (index build is
    * offline; probes are online) and it takes k-means off the per-query
    * critical path. `k` is part of the key: indexes with different cell
    * counts are different indexes. The fingerprint (see
    * [[graft.queries.Memo.fingerprint]]) retires the index when the data
    * under `dir` is rewritten mid-session.
    */
  def indexFor(spark: SparkSession, dir: String, k: Int = 16): Ivf = {
    val fp = graft.queries.Memo.fingerprint(spark, dir)
    // retire (unpersist) superseded fingerprints, don't just orphan them —
    // for EVERY k of this (session, dir): a rewrite invalidates all
    // indexes over the old data, not just the k being requested now
    val it = indexMemo.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val (es, ed, efp, _) = e.getKey
      if ((es eq spark) && ed == dir && efp != fp) {
        e.getValue.centroids.unpersist()
        e.getValue.assigned.unpersist()
        it.remove()
      }
    }
    indexMemo.computeIfAbsent((spark, dir, fp, k), { _ =>
      val ivf = build(spark, Tables.embeddings(spark, dir), k)
      Ivf(ivf.centroids.persist(), ivf.assigned.persist())
    })
  }

  /** Unpersist and drop a session's cached indexes — BOTH memos, the
    * MLlib one and the quantized one (mirror of
    * [[graft.queries.Memo.clear]]).
    */
  def clearIndexes(spark: SparkSession): Unit = {
    Seq(indexMemo, qIndexMemo).foreach { memo =>
      val it = memo.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey._1 eq spark) {
          e.getValue.centroids.unpersist()
          e.getValue.assigned.unpersist()
          it.remove()
        }
      }
    }
  }

  // ── quantized integer Lloyd: the oracle-grade trainer ────────────────
  //
  // MLlib's k-means‖ init is distributed-sampling-based and cannot be
  // reproduced in SQL, which left e4 rows-only for three rounds. This
  // trainer makes the whole index build EXACT-portable by doing Lloyd in
  // pure integer arithmetic:
  //
  //  - vectors quantize to q_i = floor(x_i·2^20) + 2^20 (floor has no
  //    rounding ties, the scale is a power of two so x·2^20 is an exact
  //    double op, and the +2^20 shift keeps everything non-negative so
  //    truncating and flooring division agree);
  //  - init = the k md5-ordered vectors (engine-neutral order);
  //  - assignment = argmin of the exact integer L2² (diffs ≤ 2^21,
  //    summed squares ≤ 2^48 — no overflow), ties broken by cell_id;
  //  - update = per-element integer mean floor(Σq/n) — exact.
  //
  // Every step is integer-exact, so DuckDB replays the identical index
  // (unrolled CTE iterations in [[ivfOracleSql]]) and e4 carries a hash
  // gate. Quantizing at 2^-20 resolution is harmless for IVF: the index
  // is a PARTITIONING — recall comes from nprobe, not centroid precision
  // (the nprobe=k ≡ brute-force gate holds for any centroid set).
  //
  // Scale shape: identical to build() — centroids broadcast (k rows),
  // one (cell, dim) hash-agg shuffle per iteration; the per-iteration
  // driver collect is k×64 longs (bounded by the algorithm, not data).

  private val QSCALE = 1048576.0 // 2^20
  private val QSHIFT = 1048576L

  private def quantize(emb: Column): Column =
    transform(emb, x =>
      floor(x.cast("double") * lit(QSCALE)).cast("long") + lit(QSHIFT))

  /** Exact integer L2² between two quantized vectors. */
  private def qd2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v)

  def buildQuantized(spark: SparkSession, vectors: DataFrame, k: Int = 16,
      iters: Int = 3): Ivf = {
    val qv = vectors.select(col("vec_id"), col("embedding"), col("label"),
      quantize(col("embedding")).as("q"))
    // seed centroids: the k md5-ordered vectors (k×64 longs — a bounded,
    // algorithm-constant collect, like PqIndex's trainCap sample)
    val seeds: Seq[(Int, Seq[Long])] = qv
      .select(col("vec_id"), col("q"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(k).collect().toIndexedSeq
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Long](1)) }
    lloydFrom(spark, qv, seeds, iters)
  }

  /** [[buildQuantized]] with FARTHEST-FIRST (Gonzalez) seeding instead of
    * md5 order — the SPLIT trainer ([[graft.streaming.StreamingIvf
    * .splitCell]]). Rationale: md5 seeding is engine-neutral random,
    * which is right for a whole corpus (and is what the e4/e17/e33
    * DuckDB oracles replay, so it must not change there) — but a split
    * trains on ONE tight cell, where two random members sit a noise-width
    * apart and 3 Lloyd rounds from near-identical seeds can converge
    * arbitrarily lopsided (measured: a 146 k-row hot cell split 94/6 —
    * a near-no-op that would make the maintenance loop crawl). Farthest-
    * first seeds span the cell's true diameter, so the first assignment
    * already cuts along its widest direction. Deterministic: seed 0 is
    * the md5-first member; each next seed maximizes the exact integer
    * min-distance to the chosen set, ties broken by vec_id. Cost: k−1
    * extra linear passes over the cell's members — a maintenance-time
    * op on one cell, not a query-path cost.
    */
  def buildQuantizedSpread(spark: SparkSession, vectors: DataFrame, k: Int = 16,
      iters: Int = 3): Ivf = {
    val qv = vectors.select(col("vec_id"), col("embedding"), col("label"),
      quantize(col("embedding")).as("q")).localCheckpoint(true)
    val seed0 = qv.select(col("vec_id"), col("q"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(1).collect().head.getSeq[Long](1)
    var seeds: Seq[(Int, Seq[Long])] = IndexedSeq((0, seed0))
    for (i <- 1 until k) {
      val sdf = spark.createDataFrame(seeds).toDF("cell_id", "cq")
      val next = qv.select(col("vec_id"), col("q"))
        .join(broadcast(sdf))
        .select(col("vec_id"), col("q"), qd2(col("q"), col("cq")).as("d2"))
        .groupBy(col("vec_id"))
        .agg(min(col("d2")).as("dmin"), first(col("q")).as("q"))
        .orderBy(desc("dmin"), col("vec_id"))
        .limit(1).collect().head.getSeq[Long](2)
      seeds = seeds :+ ((i, next))
    }
    lloydFrom(spark, qv, seeds, iters)
  }

  private def lloydFrom(spark: SparkSession, qv: DataFrame,
      init: Seq[(Int, Seq[Long])], iters: Int): Ivf = {
    import spark.implicits._
    var cents: Seq[(Int, Seq[Long])] = init

    def centsDf(cents: Seq[(Int, Seq[Long])]): DataFrame =
      spark.createDataFrame(cents).toDF("cell_id", "cq")

    def assign(c: DataFrame): DataFrame = qv
      .join(broadcast(c))
      .select(col("vec_id"), col("embedding"), col("label"), col("q"),
        col("cell_id"), qd2(col("q"), col("cq")).as("d2"))
      .groupBy(col("vec_id"))
      .agg(
        min_by(col("cell_id"), struct(col("d2"), col("cell_id"))).as("cell_id"),
        first(col("embedding")).as("embedding"),
        first(col("label")).as("label"),
        first(col("q")).as("q"))

    for (_ <- 1 to iters) {
      // integer mean per (cell, dim); empty cells drop (both engines
      // agree — same data, same rule). Collecting k rows per iteration
      // keeps the lineage flat instead of stacking join-agg plans.
      cents = assign(centsDf(cents))
        .select(col("cell_id"), posexplode(col("q")).as(Seq("idx", "v")))
        .groupBy(col("cell_id"), col("idx"))
        .agg(expr("sum(v) div count(1)").as("mu"))
        .groupBy(col("cell_id"))
        .agg(transform(array_sort(collect_list(struct(col("idx"), col("mu")))),
          x => x("mu")).as("cq"))
        .collect().toIndexedSeq
        .map(r => (r.getInt(0), r.getSeq[Long](1)))
    }

    val finalCents = centsDf(cents)
    Ivf(finalCents, assign(finalCents).drop("q"))
  }

  /** Assign vectors to their nearest FROZEN centroid by the same exact
    * integer-L2² argmin as [[buildQuantized]]'s training assignment — the
    * incremental-append entry point ([[graft.streaming.StreamingIvf]]):
    * a frozen codebook makes per-batch assignment deterministic and keeps
    * every existing posting valid (retraining would move cell boundaries
    * under the at-rest index).
    */
  def assignTo(vectors: DataFrame, centroids: DataFrame): DataFrame =
    vectors
      .select(col("vec_id"), col("embedding"), col("label"),
        quantize(col("embedding")).as("q"))
      .join(broadcast(centroids))
      .select(col("vec_id"), col("embedding"), col("label"), col("cell_id"),
        qd2(col("q"), col("cq")).as("d2"))
      .groupBy(col("vec_id"))
      .agg(
        min_by(col("cell_id"), struct(col("d2"), col("cell_id"))).as("cell_id"),
        first(col("embedding")).as("embedding"),
        first(col("label")).as("label"))

  /** The `nprobe` nearest cells per probe by exact integer centroid
    * distance: `(query_id, cell_id)`. Shared by [[queryQuantized]] and
    * the IVF×PQ composition ([[IvfPq]]).
    */
  def probeCells(probes: DataFrame, ivf: Ivf, nprobe: Int): DataFrame =
    probeCells(probes, ivf.centroids, nprobe)

  /** Centroid-only variant (the persisted/streaming indexes have no
    * in-memory `Ivf` handle).
    */
  def probeCells(probes: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame =
    probes
      .select(col("vec_id").as("query_id"), quantize(col("embedding")).as("pq"))
      .join(broadcast(centroids))
      .select(col("query_id"), col("cell_id"), qd2(col("pq"), col("cq")).as("d2"))
      .withColumn("cell_rank",
        row_number().over(Window.partitionBy(col("query_id")).orderBy(col("d2"), col("cell_id"))))
      .filter(col("cell_rank") <= nprobe)
      .select(col("query_id"), col("cell_id"))

  /** Rank cells by exact integer centroid distance, then exact cosine
    * rerank inside the `nprobe` nearest cells (same fold-dot discipline
    * as e1 — bit-identical in DuckDB).
    */
  def queryQuantized(spark: SparkSession, ivf: Ivf, probes: DataFrame,
      nprobe: Int): DataFrame = {
    val cells = probeCells(probes, ivf, nprobe)
      .join(broadcast(probes.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))), Seq("query_id"))

    val qNorm = sqrt(call_function("vec_dot", col("q_emb"), col("q_emb")))
    val cNorm = sqrt(call_function("vec_dot", col("embedding"), col("embedding")))
    cells
      .join(ivf.assigned, Seq("cell_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"),
        col("vec_id").as("neighbor_id"), col("label").as("neighbor_label"),
        (call_function("vec_dot", col("q_emb"), col("embedding")) / (qNorm * cNorm)).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(desc("cosine"), col("neighbor_id"))))
      .filter(col("rank") === 1)
      .drop("rank")
  }

  private val qIndexMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String, Int), Ivf]()

  /** Build-once quantized index — same lifecycle as [[indexFor]]. */
  def indexQFor(spark: SparkSession, dir: String, k: Int = 16): Ivf = {
    val fp = graft.queries.Memo.fingerprint(spark, dir)
    val it = qIndexMemo.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val (es, ed, efp, _) = e.getKey
      if ((es eq spark) && ed == dir && efp != fp) {
        e.getValue.centroids.unpersist()
        e.getValue.assigned.unpersist()
        it.remove()
      }
    }
    qIndexMemo.computeIfAbsent((spark, dir, fp, k), { _ =>
      val ivf = buildQuantized(spark, Tables.embeddings(spark, dir), k)
      Ivf(ivf.centroids.persist(), ivf.assigned.persist())
    })
  }

  /** Driver-facing query: 16 probes with nprobe=4 against the persisted
    * k=16 quantized index — hash-gated by [[ivfOracleSql]].
    */
  def ivfQuery(spark: SparkSession, dir: String): DataFrame = {
    val ivf = indexQFor(spark, dir)
    queryQuantized(spark, ivf,
      Tables.embeddings(spark, dir).filter(col("vec_id") < 16), nprobe = 4)
  }

  // the load-bearing DuckDB distance folds shared by every ANN oracle
  // (e4/e7/e8/e9): integer L2² and the e1 fold-dot. ONE definition — a
  // drift between copies would silently diverge the gated oracles.
  private[operators] def qd2Sql(a: String, b: String) =
    s"list_reduce(list_transform(list_zip($a, $b), x -> (x[1] - x[2]) * (x[1] - x[2])), (acc, x) -> acc + x)"
  private[operators] def dotSql(a: String, b: String) =
    s"list_reduce(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (acc, x) -> acc + x)"

  /** The quantized Lloyd as unrolled DuckDB CTEs — `qv` (quantized
    * vectors), `cents0` (md5-ordered seeds) through `cents$iters`, and
    * the final `assign${iters + 1}` over the trained centroids. Shared by
    * the e4 and e8 oracles.
    */
  def lloydCtes(k: Int = 16, iters: Int = 3, dims: Int = 64): String = {
    // AS MATERIALIZED: DuckDB 1.0 inlines CTEs at every reference, and
    // the trained cents$iters is referenced more than once downstream —
    // materializing each step keeps the unrolled recurrence linear
    def assignCte(n: Int): String =
      s"""assign$n AS MATERIALIZED (
         |  SELECT vec_id, q, cell_id FROM (
         |    SELECT v.vec_id, v.q, c.cell_id,
         |           row_number() OVER (PARTITION BY v.vec_id
         |                              ORDER BY ${qd2Sql("v.q", "c.cq")}, c.cell_id) AS rn
         |    FROM qv v CROSS JOIN cents${n - 1} c) WHERE rn = 1)""".stripMargin
    def centsCte(n: Int): String =
      s"""cents$n AS MATERIALIZED (
         |  SELECT cell_id, list(mu ORDER BY idx) AS cq FROM (
         |    SELECT a.cell_id, i.idx, CAST(sum(a.q[i.idx]) AS BIGINT) // count(*) AS mu
         |    FROM assign$n a CROSS JOIN (SELECT unnest(generate_series(1, $dims)) AS idx) i
         |    GROUP BY a.cell_id, i.idx)
         |  GROUP BY cell_id)""".stripMargin

    val lloyd = (1 to iters).map(n => s"${assignCte(n)},\n${centsCte(n)}").mkString(",\n")

    s"""qv AS (
       |  SELECT vec_id, embedding, label,
       |         list_transform(embedding,
       |           x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT) + 1048576) AS q
       |  FROM embeddings),
       |cents0 AS (
       |  SELECT cell_id, q AS cq FROM (
       |    SELECT q, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell_id
       |    FROM qv) WHERE cell_id < $k),
       |$lloyd,
       |${assignCte(iters + 1)}""".stripMargin
  }

  /** The identical quantized Lloyd + nprobe search as unrolled DuckDB
    * CTEs: same quantization, same md5 seed order, same integer argmin
    * and floor-division update per iteration, same fold-dot cosine
    * rerank as e1.
    */
  /** Persisted-index layout (e17): the trained quantized index written as
    * a parquet WAREHOUSE OBJECT — `centroids/` (k rows) plus `postings/`
    * partitioned by `cell_id`, so a probe reads only its nprobe'd cells'
    * directories. The "build once, query many" production shape: the
    * index outlives the session, and at 100 TB the postings partitioning
    * is what turns nprobe into an I/O bound, not just a compute bound.
    * Memoized per source fingerprint like the in-memory index.
    */
  def persistedLayout(spark: SparkSession, dir: String, k: Int = 16): String =
    graft.queries.Memo.cachedValue(spark, dir, s"e17_ivf_layout_$k") {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_e17_" +
        s"${graft.queries.Memo.fingerprint(spark, dir)}_$k"
      val ivf = indexQFor(spark, dir, k)
      ivf.centroids.write.mode("overwrite").parquet(s"$out/centroids")
      ivf.assigned.write.mode("overwrite").partitionBy("cell_id")
        .parquet(s"$out/postings")
      out
    }

  /** E17: top-`topK` probe against the PERSISTED layout. The probed cell
    * list is collected (≤ k rows — the same k-bounded budget as the
    * centroid collect) and pushed as a LITERAL `isin`, so the postings
    * scan partition-prunes at planning time (IvfPersistedSpec pins it).
    * Results coincide with the in-memory e4 path at rank 1 by
    * construction — same centroids, same postings, same re-rank.
    */
  def ivfPersistedQuery(spark: SparkSession, dir: String,
      topK: Int = 3): DataFrame = {
    val out = persistedLayout(spark, dir)
    val cents = spark.read.parquet(s"$out/centroids")
    val probes = Tables.embeddings(spark, dir).filter(col("vec_id") < 16)
    val cells = probeCells(probes, Ivf(cents, cents), nprobe = 4)
    val cellIds = cells.select(col("cell_id")).distinct()
      .collect().map(_.getInt(0)).toIndexedSeq // ≤ k rows
    val members = spark.read.parquet(s"$out/postings")
      .filter(col("cell_id").isin(cellIds: _*))
    val withQ = cells.join(
      broadcast(probes.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))), Seq("query_id"))
    val qNorm = sqrt(call_function("vec_dot", col("q_emb"), col("q_emb")))
    val cNorm = sqrt(call_function("vec_dot", col("embedding"), col("embedding")))
    withQ.join(members, Seq("cell_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"),
        col("vec_id").as("neighbor_id"), col("label").as("neighbor_label"),
        (call_function("vec_dot", col("q_emb"), col("embedding"))
          / (qNorm * cNorm)).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(desc("cosine"), col("neighbor_id"))))
      .filter(col("rank") <= topK)
  }

  def ivfOracleSql(k: Int = 16, iters: Int = 3, nprobe: Int = 4,
      dims: Int = 64, topK: Int = 1): String = {
    def qd2(a: String, b: String) = qd2Sql(a, b)
    def dot(a: String, b: String) = dotSql(a, b)

    s"""WITH ${lloydCtes(k, iters, dims)},
       |probe_cells AS (
       |  SELECT query_id, q_emb, cell_id FROM (
       |    SELECT v.vec_id AS query_id, v.embedding AS q_emb, c.cell_id,
       |           row_number() OVER (PARTITION BY v.vec_id
       |                              ORDER BY ${qd2("v.q", "c.cq")}, c.cell_id) AS rn
       |    FROM (SELECT * FROM qv WHERE vec_id < 16) v CROSS JOIN cents$iters c) WHERE rn <= $nprobe),
       |members AS (
       |  SELECT a.cell_id, a.vec_id, e.embedding, e.label
       |  FROM assign${iters + 1} a JOIN qv e ON a.vec_id = e.vec_id),
       |sims AS (
       |  SELECT p.query_id, m.vec_id AS neighbor_id, m.label AS neighbor_label,
       |         ${dot("p.q_emb", "m.embedding")}
       |           / (sqrt(${dot("p.q_emb", "p.q_emb")}) * sqrt(${dot("m.embedding", "m.embedding")})) AS cosine
       |  FROM probe_cells p JOIN members m ON p.cell_id = m.cell_id AND p.query_id <> m.vec_id)
       |${
        if (topK == 1)
          """SELECT query_id, neighbor_id, neighbor_label, cosine FROM (
            |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
            |  FROM sims) WHERE rank = 1""".stripMargin
        else
          s"""SELECT query_id, neighbor_id, neighbor_label, cosine, rank FROM (
             |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
             |  FROM sims) WHERE rank <= $topK""".stripMargin
      }""".stripMargin
  }
}
