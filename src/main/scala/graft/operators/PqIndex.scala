package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Product quantization (PQ) ANN over the embeddings table — the
  * memory-compression scale path next to the IVF cell partitioning in
  * [[IvfIndex]]: each d-dim vector is split into `m` subvectors, each
  * subvector quantized to its nearest of `k` per-subspace centroids, and
  * the corpus is stored as m small codes (here 8 codes ≈ 8 B against
  * 64 float32 = 256 B — 32×). Queries run ADC (asymmetric distance
  * computation): the UNCOMPRESSED probe precomputes an m×k table of
  * subspace distances to every centroid once, and each corpus row's
  * approximate distance is just m table lookups — no dot product against
  * raw vectors at all. (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011 — the FAISS IVF-PQ building block.)
  *
  * Spark-first shapes, chosen per stage:
  *  - TRAIN: per-subspace Lloyd's k-means on a driver-side BOUNDED sample
  *    (`trainCap`, seeded/deterministic). Codebooks are m·k·(d/m) doubles
  *    (8 KB here) — FAISS trains them on an in-memory sample too; corpus
  *    size never enters the training cost.
  *  - ENCODE: one shuffle-free narrow projection — the codebook rides
  *    into the plan as a nested array literal and the native `pq_encode`
  *    codegen Expression ([[graft.functions.PqEncode]]) argmins each
  *    subspace in a fused loop (the HOF form interpreted m·k·dsub
  *    catalyst nodes per row — 40 min per 100k rows at k=256). At
  *    100 TB this is a scan-speed map over the corpus, the index build
  *    cost you cannot avoid, and nothing else.
  *  - QUERY: probes (few) each build their m×k ADC table in a projection
  *    (native `pq_adc_table`), broadcast against the encoded corpus; per
  *    corpus row the distance is `aggregate(codes, Σ dt[j][code_j])` — m
  *    lookups. One shuffle for the global per-probe top-k
  *    (TakeOrdered-shaped via row_number).
  *
  * Correctness gating: the trainer is the same quantized INTEGER Lloyd
  * as [[IvfIndex.buildQuantized]] (floor(x·2^20)+2^20 inputs, integer
  * argmin with first-wins ties, floor-division means, empty clusters
  * keep their previous centroid) — every training/encode/ADC step is
  * integer-exact, so the DuckDB oracle ([[pqOracleSql]]) replays the
  * identical index and e7 is hash-exact; PqSpec keeps determinism, code
  * range, error contraction, and measured recall floors.
  */
object PqIndex {

  final case class Pq(
      codebook: IndexedSeq[IndexedSeq[IndexedSeq[Long]]], // m × k × dsub (quantized)
      encoded: DataFrame,                                 // vec_id, label, codes[m]
      raw: DataFrame)                                     // the vectors the index was built from

  val m = 8         // subspaces
  /** Centroids per subspace — 256 = 8-bit codes, the FAISS standard. The
    * round-4 value (16, 4-bit) was measured unable to rank WITHIN a
    * cluster on a 100k clustered corpus (recall@1 ≤ 0.19 at any
    * nprobe/shortlist ≤ 32 — quantization noise exceeded the within-
    * cluster distance spread; see SCALE.md frontier table): 8-bit
    * codebooks restore the ranking power while codes stay 1 B/subspace,
    * the same 32× memory story. Corpora smaller than k train with
    * duplicated seed centroids (first-wins argmin keeps it deterministic
    * and the oracle replays the identical arithmetic).
    */
  val k = 256
  /** Driver-side training sample bound — FAISS-guideline ~64 points per
    * centroid; training cost is sample-bounded, never corpus-bounded.
    */
  val trainCap = 16384

  private val QSCALE = 1048576.0 // 2^20
  private val QSHIFT = 1048576L

  /** floor(x·2^20) + 2^20 per element — same exact-portable quantization
    * as the IVF trainer (floor has no ties; the shift keeps values
    * non-negative so truncating and flooring division agree).
    */
  private def quantize(emb: Column): Column =
    transform(emb, x =>
      floor(x.cast("double") * lit(QSCALE)).cast("long") + lit(QSHIFT))

  private def quantize(v: Array[Float]): Array[Long] =
    v.map(f => math.floor(f.toDouble * QSCALE).toLong + QSHIFT)

  /** Deterministic integer Lloyd's for one subspace: init = k evenly
    * spaced points of the vec_id-ordered sample, fixed iteration count,
    * first-wins ties, floor-division means, empty clusters keep their
    * previous centroid. Pure integer ops — replayable in any engine.
    */
  private[operators] def lloyd(sub: Array[Array[Long]], iters: Int = 10): IndexedSeq[IndexedSeq[Long]] = {
    val n = sub.length
    val d = sub.head.length
    var cents = Array.tabulate(k)(i => sub(((i.toLong * n) / k).toInt).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k, d)(0L)
      val counts = Array.fill(k)(0L)
      var r = 0
      while (r < n) {
        val v = sub(r)
        var best = 0; var bestD = Long.MaxValue
        var c = 0
        while (c < k) {
          var dist = 0L; var i = 0
          while (i < d) { val t = v(i) - cents(c)(i); dist += t * t; i += 1 }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        var i = 0
        while (i < d) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
        r += 1
      }
      cents = Array.tabulate(k)(c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(d)(i => sums(c)(i) / counts(c)))
      it += 1
    }
    cents.map(_.toIndexedSeq).toIndexedSeq
  }

  /** Train codebooks on a bounded sample and encode the full corpus as a
    * shuffle-free projection.
    */
  def build(spark: SparkSession, vectors: DataFrame): Pq = {
    val sample = vectors.select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(trainCap)
      .collect()
      .map(r => quantize(r.getSeq[Float](1).toArray))
    require(sample.nonEmpty, "need at least one vector to train")
    val d = sample.head.length
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val dsub = d / m
    val codebook = IndexedSeq.tabulate(m) { j =>
      lloyd(sample.map(v => v.slice(j * dsub, (j + 1) * dsub)))
    }

    // encode via the native fused-loop expression: the HOF argmin form
    // interprets m·k·dsub catalyst nodes per row — 40 min for a 100k
    // corpus at k=256 vs seconds for PqEncode (bit-identical results)
    val codes = call_function("pq_encode",
      quantize(col("embedding")), typedlit(codebook))
    Pq(codebook, vectors.select(col("vec_id"), col("label"), codes.as("codes")), vectors)
  }

  private val indexMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), Pq]()

  /** Build-once per (session, dir, dir-fingerprint); encoded corpus
    * persisted — same lifecycle contract as [[IvfIndex.indexFor]].
    */
  def indexFor(spark: SparkSession, dir: String): Pq = {
    val fp = graft.queries.Memo.fingerprint(spark, dir)
    // retire (unpersist) superseded fingerprints, don't just orphan them
    val it = indexMemo.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val (es, ed, efp) = e.getKey
      if ((es eq spark) && ed == dir && efp != fp) {
        e.getValue.encoded.unpersist()
        it.remove()
      }
    }
    indexMemo.computeIfAbsent((spark, dir, fp), { _ =>
      val pq = build(spark, Tables.embeddings(spark, dir))
      pq.copy(encoded = pq.encoded.persist())
    })
  }

  def clearIndexes(spark: SparkSession): Unit = {
    val it = indexMemo.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq spark) { e.getValue.encoded.unpersist(); it.remove() }
    }
  }

  /** Per-probe ADC table: dt[j][kk] = integer ‖q_sub_j − c_jk‖² against
    * this index's codebook, from an ALREADY-QUANTIZED vector column
    * (project [[quantizeCol]] first — the quantize subtree would
    * otherwise be copied into all m×k lambda bodies; HOF subtrees are
    * not CSE'd). Shared by [[query]] and the IVF×PQ composition
    * ([[IvfPq]]).
    */
  def adcTable(spark: SparkSession, pq: Pq, qemb: Column): Column = {
    // native fused-loop table build (see functions/PqAdcTable): the HOF
    // form interprets m·k·dsub nodes per row — visible in the bench at
    // the 8-bit codebooks. Identical integer arithmetic. The session is
    // threaded explicitly like every other builder in this file —
    // SparkSession.active throws on threads with no active session
    // (e.g. a pool thread driving a query build).
    call_function("pq_adc_table", qemb, typedlit(pq.codebook))
  }

  /** The quantization projection for [[adcTable]] callers. */
  def quantizeCol(emb: Column): Column = quantize(emb)

  /** ADC distance: m table lookups per corpus row — integer-exact. */
  def adcDistance(dt: Column, codes: Column): Column =
    aggregate(
      sequence(lit(0), lit(m - 1)), lit(0L), (acc, j) =>
        acc + element_at(
          element_at(dt, (j + 1).cast("int")),
          (element_at(codes, (j + 1).cast("int")) + 1).cast("int")))

  /** ADC top-`topk` neighbors per probe. Probes carry their precomputed
    * m×k distance table; the corpus side touches ONLY codes.
    */
  def query(spark: SparkSession, pq: Pq, probes: DataFrame, topk: Int = 1): DataFrame = {
    val probeT = probes
      .select(col("vec_id").as("query_id"), quantize(col("embedding")).as("pq"))
      .select(col("query_id"), adcTable(spark, pq, col("pq")).as("dt"))
    val adc = adcDistance(col("dt"), col("codes"))
    pq.encoded
      .join(broadcast(probeT))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("label").as("neighbor_label"), adc.as("approx_d2"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("approx_d2"), col("neighbor_id"))))
      .filter(col("rank") <= topk)
      .drop("rank")
  }

  /** ADC shortlist + exact re-rank (the FAISS `IVFPQ + refine` shape):
    * the compressed scan proposes `shortlist` candidates per probe by ADC
    * distance, then ONLY those rows fetch their raw vectors for an exact
    * L2 re-rank. At 100 TB the full-precision side is touched for
    * `shortlist` rows per probe instead of the whole corpus — the
    * standard accuracy/memory trade: ADC prunes, exact math decides.
    */
  def queryRefined(spark: SparkSession, pq: Pq, probes: DataFrame,
      shortlist: Int = 32, topk: Int = 1): DataFrame = {
    val cand = query(spark, pq, probes, topk = shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val raw = pq.raw
    // exact |q−v|² = q·q − 2q·v + v·v via the native codegen dot
    val exactD2 =
      call_function("vec_dot", col("q_emb"), col("q_emb")) -
        lit(2.0) * call_function("vec_dot", col("q_emb"), col("embedding")) +
        call_function("vec_dot", col("embedding"), col("embedding"))
    cand
      .join(broadcast(probes.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))), Seq("query_id"))
      .join(raw.select(col("vec_id").as("neighbor_id"), col("embedding"),
        col("label").as("neighbor_label")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("neighbor_label"),
        exactD2.as("exact_d2"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("exact_d2"), col("neighbor_id"))))
      .filter(col("rank") <= topk)
      .drop("rank")
  }

  /** Driver-facing query: top-1 neighbor for 16 probes — ADC shortlist
    * of 32 from the build-once compressed index, exact re-rank on the
    * shortlist. Hash-gated by [[pqOracleSql]].
    */
  def pqQuery(spark: SparkSession, dir: String): DataFrame = {
    val pq = indexFor(spark, dir)
    queryRefined(spark, pq,
      Tables.embeddings(spark, dir).filter(col("vec_id") < 16),
      shortlist = 32, topk = 1)
  }

  private def qd2Sql(a: String, b: String) = IvfIndex.qd2Sql(a, b)
  private def dotSql(a: String, b: String) = IvfIndex.dotSql(a, b)

  /** PQ training + encode as DuckDB CTEs — everything between the shared
    * `qv` (quantized vectors, identical to [[IvfIndex.lloydCtes]]'s) and
    * the search: per-subspace Lloyd unrolled to codebook `cb$iters`, the
    * subvector view `vsub`, and the encoded corpus `enc(vec_id, j, c)`.
    * Shared by the e7 and e9 oracles.
    */
  def pqTrainEncodeCtes(iters: Int = 10, dims: Int = 64, src: String = "qv"): String = {
    val dsub = dims / m
    def qd2(a: String, b: String) = qd2Sql(a, b)

    // AS MATERIALIZED is load-bearing: cb$t references cb${t-1} TWICE
    // (argmin + keep-previous), so an inlining planner would double the
    // subtree per iteration — 2^iters blowup. Materializing each step
    // keeps the unrolled recurrence linear.
    def iterCtes(t: Int): String =
      s"""as$t AS MATERIALIZED (
         |  SELECT rn, j, sv, c FROM (
         |    SELECT s.rn, s.j, s.sv, c.c,
         |           row_number() OVER (PARTITION BY s.rn, s.j
         |                              ORDER BY ${qd2("s.sv", "c.cq")}, c.c) AS rnk
         |    FROM sub s JOIN cb${t - 1} c ON s.j = c.j) WHERE rnk = 1),
         |cb$t AS MATERIALIZED (
         |  SELECT p.j, p.c, coalesce(u.cq, p.cq) AS cq
         |  FROM cb${t - 1} p LEFT JOIN (
         |    SELECT j, c, list(mu ORDER BY idx) AS cq FROM (
         |      SELECT a.j, a.c, i.idx, CAST(sum(a.sv[i.idx]) AS BIGINT) // count(*) AS mu
         |      FROM as$t a CROSS JOIN (SELECT unnest(generate_series(1, $dsub)) AS idx) i
         |      GROUP BY a.j, a.c, i.idx) GROUP BY j, c) u
         |    ON p.j = u.j AND p.c = u.c)""".stripMargin

    val lloydUnrolled = (1 to iters).map(iterCtes).mkString(",\n")

    s"""js AS (SELECT unnest(generate_series(0, ${m - 1})) AS j),
       |samp AS (
       |  SELECT q, row_number() OVER (ORDER BY vec_id) - 1 AS rn
       |  FROM (SELECT * FROM $src ORDER BY vec_id LIMIT $trainCap)),
       |n AS (SELECT count(*) AS cnt FROM samp),
       |sub AS (
       |  SELECT s.rn, js.j, s.q[js.j * $dsub + 1 : js.j * $dsub + $dsub] AS sv
       |  FROM samp s CROSS JOIN js),
       |cb0 AS (
       |  SELECT s.j, i.i AS c, s.sv AS cq
       |  FROM (SELECT unnest(generate_series(0, ${k - 1})) AS i) i
       |  CROSS JOIN n
       |  JOIN sub s ON s.rn = (i.i * n.cnt) // $k),
       |$lloydUnrolled,
       |vsub AS (
       |  SELECT v.vec_id, js.j, v.q[js.j * $dsub + 1 : js.j * $dsub + $dsub] AS sv
       |  FROM $src v CROSS JOIN js),
       |enc AS MATERIALIZED (
       |  SELECT vec_id, j, c FROM (
       |    SELECT v.vec_id, v.j, c.c,
       |           row_number() OVER (PARTITION BY v.vec_id, v.j
       |                              ORDER BY ${qd2("v.sv", "c.cq")}, c.c) AS rnk
       |    FROM vsub v JOIN cb$iters c ON v.j = c.j) WHERE rnk = 1)""".stripMargin
  }

  /** The identical integer-PQ pipeline in DuckDB: quantize → per-subspace
    * Lloyd (same evenly-spaced init, same first-wins argmin as the Scala
    * loop's strict `<`, same floor-division means, same keep-previous for
    * empty clusters, `iters` unrolled) → integer encode → integer ADC
    * shortlist → exact fold-dot L2 re-rank.
    */
  def pqOracleSql(iters: Int = 10, shortlist: Int = 32, nProbes: Int = 16,
      dims: Int = 64): String = {
    def qd2(a: String, b: String) = qd2Sql(a, b)
    def dot(a: String, b: String) = dotSql(a, b)

    s"""WITH qv AS (
       |  SELECT vec_id, embedding, label,
       |         list_transform(embedding,
       |           x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT) + 1048576) AS q
       |  FROM embeddings),
       |${pqTrainEncodeCtes(iters, dims)},
       |pdt AS (
       |  SELECT p.vec_id AS query_id, p.j, c.c, ${qd2("p.sv", "c.cq")} AS d
       |  FROM (SELECT * FROM vsub WHERE vec_id < $nProbes) p
       |  JOIN cb$iters c ON p.j = c.j),
       |adc AS (
       |  SELECT pd.query_id, e.vec_id AS neighbor_id, CAST(sum(pd.d) AS BIGINT) AS approx_d2
       |  FROM enc e JOIN pdt pd ON e.j = pd.j AND e.c = pd.c AND pd.query_id <> e.vec_id
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

  /** E34: PQ DISTORTION audit — per-subspace quantization-error energy
    * (Σ‖sub-vector − assigned centroid‖² in the quantized integer space,
    * plus the per-vector floor average): e33's companion on the CODE
    * side of the index-health pair. Distortion is what decides code
    * width (the r5 4-bit→8-bit lesson was exactly "distortion exceeded
    * within-cluster spread") and which subspace needs its codebook
    * retrained after drift — so it's a first-class audit, not a debug
    * print. All-integer; the total ACCUMULATES in DECIMAL(38,0)/HUGEINT
    * (Σ over a corpus of 8·(2²¹)²-scale terms can pass int64 at extreme
    * corpus sizes) but is SURFACED as BIGINT: at every gate SF the total
    * is ≈7.6×10¹³ ≪ 2⁶³, and DECIMAL(38,0) output defeats the driver's
    * cross-engine hash canonicalization (r10's one red row). At a corpus
    * size where the BIGINT surface could overflow (≳10⁵ PB of vectors),
    * widen the surfaced column to a digit-string — the accumulation
    * already has the headroom.
    *
    * Scale shape: the memoized encode (corpus × m code rows) + one
    * broadcast join against the m·k-row codebook + one hash aggregate to
    * m rows. Nothing rescans raw vectors beyond the shared quantize.
    */
  def distortionQ: graft.queries.Q = {
    val dsub = 64 / m
    graft.queries.Q("e34_pq_distortion",
      s"""WITH qv AS (
         |  SELECT vec_id, embedding, label,
         |         list_transform(embedding,
         |           x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT) + 1048576) AS q
         |  FROM embeddings),
         |${pqTrainEncodeCtes()},
         |err AS (
         |  SELECT v.j, ${qd2Sql("v.sv", "c.cq")} AS d2
         |  FROM vsub v
         |  JOIN enc e ON v.vec_id = e.vec_id AND v.j = e.j
         |  JOIN cb10 c ON c.j = e.j AND c.c = e.c)
         |SELECT CAST(j AS BIGINT) AS subspace,
         |       CAST(count(*) AS BIGINT) AS n_vecs,
         |       CAST(sum(CAST(d2 AS HUGEINT)) AS BIGINT) AS sq_err_total,
         |       CAST(sum(CAST(d2 AS HUGEINT)) // count(*) AS BIGINT) AS sq_err_avg
         |FROM err GROUP BY j""".stripMargin) {
      (s, dir) =>
        import org.apache.spark.sql.types.DecimalType
        val pq = indexFor(s, dir)
        val cb = {
          import s.implicits._
          (for (j <- pq.codebook.indices; c <- pq.codebook(j).indices)
            yield (j, c, pq.codebook(j)(c))).toDF("j", "c", "cq")
        }
        val vsub = pq.raw
          .select(col("vec_id"), quantize(col("embedding")).as("q"))
          .select(col("vec_id"),
            explode(sequence(lit(0), lit(m - 1))).as("j"), col("q"))
          .select(col("vec_id"), col("j"),
            expr(s"slice(q, j * $dsub + 1, $dsub)").as("sv"))
        val enc = pq.encoded.select(col("vec_id"),
          posexplode(col("codes")).as(Seq("j", "c")))
        vsub.join(enc, Seq("vec_id", "j"))
          .join(broadcast(cb), Seq("j", "c"))
          .select(col("j"), expr(
            "aggregate(zip_with(sv, cq, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")
            .as("d2"))
          .groupBy(col("j").cast("long").as("subspace"))
          .agg(count(lit(1)).as("n_vecs"),
            sum(col("d2").cast(DecimalType(38, 0))).cast("long")
              .as("sq_err_total"),
            expr("CAST(sum(CAST(d2 AS DECIMAL(38,0))) div count(1) AS BIGINT)")
              .as("sq_err_avg"))
    }
  }
}
