package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Scale-planning operators: the jobs a 100 TB pipeline runs BEFORE (or
  * instead of) the expensive jobs — probability-proportional-to-size
  * sampling, range-partition planning for a global sort/write, self-join
  * cost pricing, and a linear-shape Pareto frontier.
  *
  * These generalize the priced-before-run discipline the d17/j10 decade
  * rehearsals established (SCALE.md): j13 prices ANY equi-self-join from
  * its key-degree profile the same way the decade rehearsal priced d17's
  * prefix postings (SCALE.md, "Decade-past-bench rehearsal for the
  * output-bound tier"), and z2 is the planning pass a
  * RangePartitioner-style global sort runs — sample, cut boundaries,
  * audit the realized balance.
  *
  * Cross-engine exactness: every pseudo-random draw is the md5-derived
  * 24-bit integer of [[graft.domain.DomainConfig.draw]] (`conv(substr(
  * md5(k),1,6),16,10)` ≡ DuckDB `CAST('0x' || substr(md5(k),1,6) AS
  * BIGINT)`); the only doubles are single IEEE-exact divisions of exact
  * integers; everything else is BIGINT (DECIMAL(38,0) internally where a
  * 100 TB accumulation could pass 2^63 — surfaced BIGINT per the e34
  * lesson and the RegistrySpec decimal pin).
  */
object ScaleOps {

  // ---------------------------------------------------------------- t38

  val ppsK = 8

  /** T38: SEQUENTIAL POISSON SAMPLING (Ohlsson 1998) — the deterministic
    * probability-proportional-to-size sample the data-mixture layer draws
    * when long documents should be sampled ∝ their token count (t9 is the
    * uniform stratified form; t17 truncates to a budget; this one is the
    * real PPS primitive: k docs per source, inclusion probability
    * approximately ∝ n_tokens, WITHOUT replacement).
    *
    * Ranking key = u / w with u the md5-derived 24-bit uniform and w the
    * integer token count; the k smallest keys per stratum win. This is
    * Ohlsson's sequential Poisson scheme — the estimator literature's
    * standard PPS approximation — chosen over Efraimidis–Spirakis
    * (u^(1/w)) deliberately: E–S needs `ln`/`pow`, which are NOT
    * correctly-rounded and would break the cross-engine hash (the dq5 PSI
    * lesson); u/w is one exact integer-to-double division, bit-identical
    * in both engines.
    *
    * Scale shape: one narrow projection (no shuffle), then the native
    * bounded-heap [[graft.plans.TopKPerGroup]] — k rows per stratum ever
    * held, partial per input partition, no window sort. The final rank
    * window runs over ≤ k·|sources| rows.
    */
  val ppsSample = Q("t38_pps_sample",
    s"""WITH r AS (
       |  SELECT source, doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |         CAST('0x' || substr(md5('pps:' || CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) AS u24
       |  FROM documents),
       |k AS (
       |  SELECT source, doc_id, n_tokens, u24,
       |         CAST(u24 AS DOUBLE) / n_tokens AS sel_key,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY CAST(u24 AS DOUBLE) / n_tokens, doc_id) AS rn
       |  FROM r)
       |SELECT source, doc_id, n_tokens, u24, sel_key,
       |       CAST(rn AS BIGINT) AS sample_rank
       |FROM k WHERE rn <= $ppsK""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      val base = Tables.documents(s, dir)
        .select($"source", $"doc_id",
          size(split($"text", " ")).cast("long").as("n_tokens"),
          conv(substring(md5(concat(lit("pps:"), $"doc_id".cast("string"))), 1, 6), 16, 10)
            .cast("long").as("u24"))
        .withColumn("sel_key", $"u24".cast("double") / $"n_tokens")
      val top = graft.plans.TopKPerGroup.topK(base,
        groupCols = Seq("source"),
        orderBy = Seq(("sel_key", true), ("doc_id", true)),
        k = ppsK)
      // rank over the ≤ k·|sources| survivors only
      val w = Window.partitionBy($"source").orderBy($"sel_key", $"doc_id")
      top.withColumn("sample_rank", row_number().over(w).cast("long"))
  }

  // ----------------------------------------------------------------- z2

  val plannerBuckets = 32
  val plannerSampleN = 256

  /** The 31 sampled range boundaries (cents of l_extendedprice), memoized
    * per (session, dir). Sample = the `plannerSampleN` DISTINCT (h, cents)
    * pairs with the smallest md5 of the (l_orderkey, l_linenumber) key —
    * a deterministic uniform sample that is a global TOP-K
    * (TakeOrderedAndProject), never a global sort; boundary j = the
    * sample's (cents, h)-order statistic at rank 8·j, exactly how
    * Spark's RangePartitioner cuts its sampled keys.
    *
    * The DISTINCT is the ONE sample rule shared with
    * [[graft.streaming.StreamingPlanner]]: the streaming face must dedup
    * on (h, cents) anyway (an at-least-once redelivery is the same
    * logical row), and letting the batch side count byte-identical
    * duplicates as separate sample slots would both waste slots and break
    * the maintained-≡-batch contract on duplicate data. Duplicate
    * (h, cents) = same id tuple AND same value — one sample vote either
    * way.
    */
  def plannerBounds(s: SparkSession, dir: String): Seq[Long] =
    Memo.cachedValue(s, dir, "z2_bounds") {
      import s.implicits._
      val step = plannerSampleN / plannerBuckets
      val sample = Tables.lineitem(s, dir)
        .select(
          expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"),
          md5(concat($"l_orderkey".cast("string"), lit(":"),
            $"l_linenumber".cast("string"))).as("h"))
        // (h, cents): the synthetic lineitem does NOT honor the TPC-H
        // (orderkey, linenumber) PK — h alone ties on duplicate keys, and
        // a tie cut differently by the two engines moves a boundary
        .dropDuplicates("h", "cents")
        .orderBy($"h", $"cents")
        .limit(plannerSampleN)
        .as[(Long, String)].collect()
        .sortBy { case (c, h) => (c, h) }
      // ranks step, 2·step, …, (B−1)·step — 31 cut points for 32 buckets
      (1 until plannerBuckets)
        .map(j => j * step - 1)
        .filter(_ < sample.length)
        .map(i => sample(i)._1)
    }

  /** Z2: RANGE-PARTITION PLANNER + realized-balance audit — the planning
    * pass of a 100 TB global sort/write: sample the key column, cut
    * equi-depth boundaries from the sample, then AUDIT what the boundaries
    * actually do to the full table (per-bucket row count, key range, and
    * signed deviation from the ideal share in ppm). The audit is the
    * honest part: sampled boundaries are only as balanced as the sample,
    * and this report is how a pipeline decides whether 256 samples are
    * enough before committing a fleet to the shuffle (ZOrder.scala's
    * sampling note, made measurable).
    *
    * Scale shape: the sample is a global top-256 by md5 (bounded heap, no
    * sort); the boundaries are 31 DRIVER literals (the exact
    * RangePartitioner pattern), so bucket assignment is a join-free
    * codegen projection over the full scan; the audit is one 32-group
    * hash aggregate + a window over ≤ 32 rows.
    */
  val rangePlanner = Q("z2_range_planner", {
    val step = plannerSampleN / plannerBuckets
    s"""WITH li AS (
       |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
       |         md5(CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)) AS h
       |  FROM lineitem),
       |samp AS (SELECT DISTINCT cents, h FROM li ORDER BY h, cents LIMIT $plannerSampleN),
       |ranked AS (SELECT cents, row_number() OVER (ORDER BY cents, h) AS rn FROM samp),
       |bounds AS (SELECT cents AS bv FROM ranked
       |           WHERE rn % $step = 0 AND rn < $plannerSampleN),
       |assigned AS (
       |  SELECT cents,
       |         (SELECT count(*) FROM bounds WHERE bv < cents) AS bucket
       |  FROM li),
       |agg AS (
       |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
       |         min(cents) AS min_cents, max(cents) AS max_cents
       |  FROM assigned GROUP BY bucket)
       |SELECT CAST(bucket AS BIGINT) AS bucket, n_rows, min_cents, max_cents,
       |       CAST(n_rows * $plannerBuckets * 1000000
       |            // sum(n_rows) OVER () - 1000000 AS BIGINT) AS dev_ppm
       |FROM agg""".stripMargin
  }) { (s, dir) =>
    import s.implicits._
    val bounds = plannerBounds(s, dir)
    // join-free assignment: 31 literal boundaries, count of bounds < v —
    // as a SUM OF COMPARISONS, not an array HOF: the HOF form
    // (size(filter(array(...), b -> b < v))) allocates a filtered array
    // per row outside codegen and measured 6× slower at sf0.1 (5.1 s vs
    // 0.86 s); the comparison sum stays inside whole-stage codegen
    val bucketExpr = bounds
      .map(b => s"(CASE WHEN $b < cents THEN 1 ELSE 0 END)")
      .mkString("CAST(", " + ", " AS BIGINT)")
    Tables.lineitem(s, dir)
      .select(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .withColumn("bucket", expr(bucketExpr))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_rows"),
        min($"cents").as("min_cents"), max($"cents").as("max_cents"))
      .withColumn("dev_ppm",
        expr(s"CAST(n_rows * $plannerBuckets * 1000000 div sum(n_rows) OVER () - 1000000 AS BIGINT)"))
  }

  // ----------------------------------------------------------------- o3

  /** O3: PARETO (skyline) FRONTIER of (order_day, order value) — the days
    * that set a new all-time-high order value: the staircase no later
    * point dominates. The textbook skyline plan is the O(n²) dominance
    * anti-join; the linear shape is sort + exclusive prefix-max, and this
    * query runs THAT — [[graft.operators.PrefixScan.runningMaxExclusive]]
    * (year buckets → per-bucket max → exclusive offsets → within-bucket
    * window), so no single-partition window and no pair join anywhere.
    * The oracle states the semantics as the plain global window; the gate
    * proves the two-level scan computes exactly that.
    *
    * Day grain keeps ties well-defined (per-day max first), and the
    * date-grain intermediate is CALENDAR-bounded (~365·years rows at any
    * data scale), so every post-aggregation step is constant-size.
    */
  val skylineFrontier = Q("o3_skyline_frontier",
    """WITH d AS (
      |  SELECT CAST(o_orderdate AS DATE) AS order_day,
      |         max(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS day_best_cents,
      |         CAST(count(*) AS BIGINT) AS n_orders
      |  FROM orders GROUP BY 1),
      |p AS (
      |  SELECT *, max(day_best_cents) OVER (ORDER BY order_day
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_best
      |  FROM d)
      |SELECT order_day, day_best_cents, n_orders
      |FROM p WHERE prev_best IS NULL OR day_best_cents > prev_best""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      val daily = Tables.orders(s, dir)
        .groupBy(to_date($"o_orderdate").as("order_day"))
        .agg(expr("max(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))")
          .as("day_best_cents"),
          count(lit(1)).as("n_orders"))
      graft.operators.PrefixScan.runningMaxExclusive(
        daily, year($"order_day"), Seq($"order_day"), $"day_best_cents", "prev_best")
        .filter($"prev_best".isNull || $"day_best_cents" > $"prev_best")
        .select($"order_day", $"day_best_cents", $"n_orders")
  }

  // ---------------------------------------------------------------- j13

  /** The candidate cap of the decade rehearsal (SCALE.md,
    * "Decade-past-bench rehearsal for the output-bound tier"), shared with
    * j10's pricer.
    */
  val selfJoinCap = 300000000L

  /** J13: SELF-JOIN PRICER — the j10/d17 priced-before-run discipline
    * generalized to any equi-self-join: from the key-degree profile alone
    * (one groupBy, no pair ever materialized), the exact candidate count
    * Σ c·(c−1)/2, the full join size Σ c², the uniform-keys estimate
    * n²/ndv, the skew amplification vs that estimate, the single hottest
    * key's share, and the verdict against the 3×10⁸ [[selfJoinCap]].
    * This is the report that decides — BEFORE the shuffle — whether a
    * dedup/linkage candidate join runs as-is, gets a frequency cap (d2's
    * rare-shingle rule), or needs salting (j7).
    *
    * All integer; Σc² and n² accumulate in DECIMAL(38,0) (at 100 TB a
    * hot key's c² alone can pass 2^63) and surface BIGINT per the e34
    * discipline — gate-SF totals are ≪ 2^63.
    */
  val selfJoinPrice = Q("j13_self_join_price",
    s"""WITH deg AS (
       |  SELECT user_id, CAST(count(*) AS BIGINT) AS c
       |  FROM events GROUP BY user_id),
       |agg AS (
       |  SELECT CAST(sum(c) AS BIGINT) AS n_rows,
       |         CAST(count(*) AS BIGINT) AS n_keys,
       |         max(c) AS max_degree,
       |         sum(CAST(c AS HUGEINT) * c) AS sum_sq,
       |         sum(CAST(c AS HUGEINT) * (c - 1) // 2) AS pairs
       |  FROM deg)
       |SELECT n_rows, n_keys, max_degree,
       |       CAST(sum_sq AS BIGINT) AS self_join_rows,
       |       CAST(pairs AS BIGINT) AS cand_pairs,
       |       CAST(CAST(n_rows AS HUGEINT) * n_rows // n_keys AS BIGINT) AS uniform_est_rows,
       |       CAST(sum_sq * n_keys * 1000000
       |            // (CAST(n_rows AS HUGEINT) * n_rows) AS BIGINT) AS skew_x_ppm,
       |       CAST(CAST(max_degree AS HUGEINT) * max_degree * 1000000
       |            // sum_sq AS BIGINT) AS top_key_ppm,
       |       pairs <= $selfJoinCap AS within_cap
       |FROM agg""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      Tables.events(s, dir)
        .groupBy($"user_id").agg(count(lit(1)).as("c"))
        .agg(
          sum($"c").as("n_rows"),
          count(lit(1)).as("n_keys"),
          max($"c").as("max_degree"),
          sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("sum_sq"),
          sum(expr("CAST(c AS DECIMAL(38,0)) * (c - 1) div 2")).as("pairs"))
        .select($"n_rows", $"n_keys", $"max_degree",
          $"sum_sq".cast("long").as("self_join_rows"),
          $"pairs".cast("long").as("cand_pairs"),
          expr("CAST(CAST(n_rows AS DECIMAL(38,0)) * n_rows div n_keys AS BIGINT)")
            .as("uniform_est_rows"),
          expr("CAST(sum_sq * n_keys * 1000000 div (CAST(n_rows AS DECIMAL(38,0)) * n_rows) AS BIGINT)")
            .as("skew_x_ppm"),
          expr("CAST(CAST(max_degree AS DECIMAL(38,0)) * max_degree * 1000000 div sum_sq AS BIGINT)")
            .as("top_key_ppm"),
          ($"pairs" <= lit(selfJoinCap)).as("within_cap"))
  }

  // ---------------------------------------------------------------- j14

  /** J14: TWO-TABLE JOIN PRICER — j13 generalized to A ⋈ B: the exact
    * output size Σ_k cA(k)·cB(k) of orders ⋈ lineitem on the order key,
    * computed from the two degree profiles joined on the key (one
    * groupBy per side + one count-table equi-join — row counts only,
    * never a fanout), alongside the independence estimate
    * |A|·|B|/max(ndv) the textbook optimizer would use, the matched-key
    * counts (how much of each side even participates), and the hottest
    * key's share of the output. The j10/d17 discipline for the general
    * equi-join: every number a planner needs to choose broadcast vs
    * shuffle vs salt, priced before any shuffle of the real rows.
    *
    * Products accumulate in DECIMAL(38,0) (a hot key's cA·cB alone can
    * pass 2^63 at 100 TB), surfaced BIGINT per the e34 discipline.
    */
  val joinPrice = Q("j14_join_price",
    s"""WITH da AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS ca
       |           FROM orders GROUP BY 1),
       |db AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS cb
       |       FROM lineitem GROUP BY 1),
       |j AS (SELECT da.k, da.ca, db.cb,
       |             CAST(da.ca AS HUGEINT) * db.cb AS prod
       |      FROM da JOIN db ON da.k = db.k),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS matched_keys,
       |             sum(prod) AS out_rows,
       |             max(prod) AS max_key_prod
       |      FROM j),
       |sa AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
       |              CAST(count(*) AS BIGINT) AS ndv_a FROM da),
       |sb AS (SELECT CAST(sum(cb) AS BIGINT) AS n_b,
       |              CAST(count(*) AS BIGINT) AS ndv_b FROM db)
       |SELECT n_a, ndv_a, n_b, ndv_b, matched_keys,
       |       CAST(out_rows AS BIGINT) AS out_rows,
       |       CAST(CAST(n_a AS HUGEINT) * n_b
       |            // greatest(ndv_a, ndv_b) AS BIGINT) AS independence_est_rows,
       |       CAST(max_key_prod * 1000000 // out_rows AS BIGINT) AS top_key_ppm,
       |       out_rows <= $selfJoinCap AS within_cap
       |FROM m, sa, sb""".stripMargin) { (s, dir) =>
    import s.implicits._
    val da = Tables.orders(s, dir).groupBy($"o_orderkey".as("k"))
      .agg(count(lit(1)).as("ca"))
    val db = Tables.lineitem(s, dir).groupBy($"l_orderkey".as("k"))
      .agg(count(lit(1)).as("cb"))
    val j = da.join(db, "k")
      .select($"ca", $"cb", expr("CAST(ca AS DECIMAL(38,0)) * cb").as("prod"))
    val m = j.agg(count(lit(1)).as("matched_keys"),
      sum($"prod").as("out_rows"), max($"prod").as("max_key_prod"))
    val sa = da.agg(sum($"ca").as("n_a"), count(lit(1)).as("ndv_a"))
    val sb = db.agg(sum($"cb").as("n_b"), count(lit(1)).as("ndv_b"))
    m.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
      .select($"n_a", $"ndv_a", $"n_b", $"ndv_b", $"matched_keys",
        $"out_rows".cast("long").as("out_rows"),
        expr("CAST(CAST(n_a AS DECIMAL(38,0)) * n_b div greatest(ndv_a, ndv_b) AS BIGINT)")
          .as("independence_est_rows"),
        expr("CAST(max_key_prod * 1000000 div out_rows AS BIGINT)").as("top_key_ppm"),
        ($"out_rows" <= lit(selfJoinCap).cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .as("within_cap"))
  }

  // ---------------------------------------------------------------- j15

  /** J15: the PRICERS ARMED — j14's degree-profile arithmetic driving an
    * actual join through [[graft.operators.PlannedJoin]]: price the
    * customer⋈orders equi-join (exact output size, hottest-key share,
    * payload bytes), let the advisor pick broadcast / shuffle / salted /
    * fail-loud, execute the chosen plan, roll up. The oracle states the
    * JOIN SEMANTICS (plain SQL join + rollup) — every strategy returns
    * the identical multiset, which is exactly what makes the strategy
    * choice safe to automate; the choice itself is pinned on
    * skewed/uniform/tiny fixtures in PlannedJoinSpec. At gate SFs the
    * pruned customer side prices under the broadcast threshold, so this
    * gate exercises the advisor→broadcast path end to end.
    */
  val plannedJoinRollup = Q("j15_planned_join",
    """SELECT c.c_mktsegment, o.o_orderpriority,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |            AS BIGINT) AS total_cents
      |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    import s.implicits._
    val cust = Tables.customer(s, dir)
      .select($"c_custkey".as("custkey"), $"c_mktsegment")
    val ord = Tables.orders(s, dir)
      .select($"o_custkey".as("custkey"), $"o_orderpriority",
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    val (joined, _, _) = graft.operators.PlannedJoin.join(cust, ord, Seq("custkey"))
    joined.groupBy($"c_mktsegment", $"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        expr("CAST(sum(CAST(cents AS DECIMAL(38,0))) AS BIGINT)").as("total_cents"))
  }

  // ----------------------------------------------------------------- z3

  /** Spark's default `autoBroadcastJoinThreshold`. */
  val broadcastThresholdBytes = 10L * 1024 * 1024

  /** Z3: BROADCAST ADVISOR — the join-strategy planning pass: estimate
    * every table's data payload (8 bytes per numeric/temporal cell,
    * string lengths, 4·len per float array) and call which sides fit
    * under Spark's 10 MiB auto-broadcast threshold. This is the audit a
    * pipeline runs when a star join mysteriously shuffles: the answer is
    * almost always "the dimension grew past the threshold" — and the
    * advisor sees it from one aggregate per table, before any join runs
    * (the j13 pricer's strategy-level sibling). Payload bytes are a
    * DELIBERATE lower bound of the in-memory hashed-relation size
    * (object headers and hash-table overhead are JVM-version trivia no
    * oracle can share); the verdict column applies the threshold to the
    * estimate, exactly as Spark's planner applies it to its own stats.
    *
    * Shape: one narrow aggregate per table (8 parallel scans at most,
    * each column-pruned to what the estimate needs), one 8-row union —
    * no join anywhere.
    */
  /** The shared per-table payload-byte model (z3/z4): 8 B per
    * fixed-width cell, string lengths, 4·len per float array — the same
    * expression rendered for both engines.
    */
  private val payloadModel: Seq[(String, String)] = Seq(
    "region" -> "8 + length(r_name)",
    "nation" -> "16 + length(n_name)",
    "customer" -> "24 + length(c_name) + length(c_mktsegment)",
    "supplier" -> "24 + length(s_name)",
    "part" -> "24 + length(p_name) + length(p_brand) + length(p_type)",
    "orders" -> "32 + length(o_orderstatus) + length(o_orderpriority)",
    "lineitem" -> "56 + length(l_returnflag) + length(l_linestatus)",
    "events" -> "32 + length(event_type) + length(props)",
    "documents" -> "16 + length(text) + length(lang) + length(source)",
    "embeddings" -> "12 + 4 * len(embedding)")

  private def payloadSpark(s: SparkSession, dir: String)
      : Seq[(String, DataFrame, org.apache.spark.sql.Column)] = {
    import org.apache.spark.sql.Column
    def L(c: String): Column = length(col(c)).cast("long")
    Seq(
      ("region", Tables.region(s, dir), lit(8L) + L("r_name")),
      ("nation", Tables.nation(s, dir), lit(16L) + L("n_name")),
      ("customer", Tables.customer(s, dir), lit(24L) + L("c_name") + L("c_mktsegment")),
      ("supplier", Tables.supplier(s, dir), lit(24L) + L("s_name")),
      ("part", Tables.part(s, dir), lit(24L) + L("p_name") + L("p_brand") + L("p_type")),
      ("orders", Tables.orders(s, dir), lit(32L) + L("o_orderstatus") + L("o_orderpriority")),
      ("lineitem", Tables.lineitem(s, dir), lit(56L) + L("l_returnflag") + L("l_linestatus")),
      ("events", Tables.events(s, dir), lit(32L) + L("event_type") + L("props")),
      ("documents", Tables.documents(s, dir), lit(16L) + L("text") + L("lang") + L("source")),
      ("embeddings", Tables.embeddings(s, dir),
        lit(12L) + size(col("embedding")).cast("long") * 4L))
  }

  val broadcastAdvisor = Q("z3_broadcast_advisor", {
    def t(name: String, bytesExpr: String) =
      s"""SELECT '$name' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(coalesce(sum($bytesExpr), 0) AS BIGINT) AS est_bytes,
         |       coalesce(sum($bytesExpr), 0) <= $broadcastThresholdBytes AS broadcastable
         |FROM $name""".stripMargin
    payloadModel.map { case (n, e) => t(n, e) }
      .mkString("\n", "\nUNION ALL\n", "")
  }) { (s, dir) =>
    payloadSpark(s, dir).map { case (name, df, bytes) =>
      df.agg(count(lit(1)).as("n_rows"),
        coalesce(sum(bytes), lit(0L)).as("est_bytes"))
        .select(lit(name).as("table_name"), col("n_rows"), col("est_bytes"),
          (col("est_bytes") <= broadcastThresholdBytes).as("broadcastable"))
    }.reduce(_ unionByName _)
  }

  // ----------------------------------------------------------------- z4

  /** Spark's default `spark.sql.files.maxPartitionBytes`. */
  val maxPartitionBytes = 128L * 1024 * 1024
  /** Target post-shuffle partition payload — the classic 64 MiB
    * operating point (small enough to fit comfortably in executor
    * memory with room for hash tables, large enough to amortize task
    * overhead); AQE's `advisoryPartitionSizeInBytes` default.
    */
  val targetShuffleBytes = 64L * 1024 * 1024

  /** Z4: PARTITION-COUNT ADVISOR — the sizing pass next to z3's
    * broadcast verdict: from the same payload-byte model, how many scan
    * splits does each table's data justify (`est_bytes /
    * maxPartitionBytes`, the split math Spark's FilePartition planner
    * runs on FILE bytes — this is the decompressed-payload view, the
    * honest input to "will a partition fit in memory"), and how many
    * post-shuffle partitions should a full-table shuffle use at the
    * 64 MiB operating point. The report is how a pipeline decides
    * `spark.sql.shuffle.partitions` / AQE advisory size BEFORE a job
    * ships — the prompt's "size your partitions so they fit in executor
    * memory", made a first-class priced query instead of folklore.
    * Ceilings are exact integer arithmetic (`(a + b − 1) div b`, never
    * a float), `greatest(1, …)` so an empty or tiny table still plans
    * one partition.
    */
  val partitionAdvisor = Q("z4_partition_advisor", {
    def t(name: String, bytesExpr: String) =
      s"""SELECT '$name' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(coalesce(sum($bytesExpr), 0) AS BIGINT) AS est_bytes,
         |       CAST(greatest(1, (coalesce(sum($bytesExpr), 0) + $maxPartitionBytes - 1)
         |            // $maxPartitionBytes) AS BIGINT) AS scan_partitions,
         |       CAST(greatest(1, (coalesce(sum($bytesExpr), 0) + $targetShuffleBytes - 1)
         |            // $targetShuffleBytes) AS BIGINT) AS shuffle_partitions
         |FROM $name""".stripMargin
    payloadModel.map { case (n, e) => t(n, e) }
      .mkString("\n", "\nUNION ALL\n", "")
  }) { (s, dir) =>
    payloadSpark(s, dir).map { case (name, df, bytes) =>
      df.agg(count(lit(1)).as("n_rows"),
        coalesce(sum(bytes), lit(0L)).as("est_bytes"))
        .select(lit(name).as("table_name"), col("n_rows"), col("est_bytes"),
          greatest(lit(1L), expr(
            s"(est_bytes + $maxPartitionBytes - 1) div $maxPartitionBytes"))
            .as("scan_partitions"),
          greatest(lit(1L), expr(
            s"(est_bytes + $targetShuffleBytes - 1) div $targetShuffleBytes"))
            .as("shuffle_partitions"))
    }.reduce(_ unionByName _)
  }

  val queries: Seq[Q] = Seq(ppsSample, rangePlanner, skylineFrontier,
    selfJoinPrice, joinPrice, plannedJoinRollup, broadcastAdvisor,
    partitionAdvisor)
}
