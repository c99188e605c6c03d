package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import Exact._

/** SURVEY §2.3 — the reference's single join shape (left-outer freight
  * enrichment with null-fill, `silver_to_gold.py:512-533`), its fanout
  * hazard fix (J1b), the implied dimensional star join, and the semi/anti
  * completions a user of the library expects.
  *
  * Scale notes: small sides are explicitly `broadcast()`; the star join
  * broadcasts every dimension so the fact table is scanned exactly once
  * with zero shuffle on the probe side. The fanout-dedupe pre-aggregates
  * the many-side BEFORE the join (one shuffle on the dedupe key instead
  * of an exploded join output).
  */
object Joins {

  /** J1 + J1a: left-outer equi-join of the order mart against a freight
    * table, unmatched rows filled with defaults (`coalesce(cost, 15.0)`,
    * `'not shipped yet'` — `silver_to_gold.py:530,533`). Freight analog:
    * supplier keyed by s_suppkey covers only part of `o_orderkey % 150`,
    * so ~1/3 of orders are unmatched and exercise the fill.
    */
  val j1LeftFill = Q("j1_left_join_fill",
    """SELECT o.o_orderkey AS order_no,
      |       CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS order_amount,
      |       coalesce(CAST(CAST(s.s_acctbal AS DECIMAL(18,2)) AS DOUBLE), 15.0) AS freight_cost,
      |       CASE WHEN s.s_suppkey IS NULL THEN 'not shipped yet' ELSE 'shipped' END AS freight_status
      |FROM orders o LEFT JOIN supplier s ON o.o_orderkey % 150 = s.s_suppkey""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      val o = Tables.orders(s, dir)
      val freight = Tables.supplier(s, dir)
      o.join(broadcast(freight), pmod(o("o_orderkey"), lit(150)) === freight("s_suppkey"), "left")
        .select(
          $"o_orderkey".as("order_no"),
          dec2($"o_totalprice").cast("double").as("order_amount"),
          coalesce(dec2($"s_acctbal").cast("double"), lit(15.0)).as("freight_cost"),
          when($"s_suppkey".isNull, "not shipped yet").otherwise("shipped").as("freight_status"))
  }

  /** J1b: fanout-safe enrichment — the reference's freight table can hold
    * >1 row per order_ref (`api_data_generator.py:154`) and its left join
    * silently duplicates order rows. The fix: dedupe the many-side to one
    * row per key (sum costs, first status by event order) BEFORE joining.
    * Analog: events is the many-side (many events per user), customer the
    * one-side.
    */
  val j1bDedupeFanout = Q("j1b_dedupe_fanout",
    """WITH per_user AS (
      |  SELECT user_id,
      |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |         count(*) AS n_events,
      |         arg_min(event_type, event_id) AS first_event_type
      |  FROM events GROUP BY user_id
      |)
      |SELECT c.c_custkey, c.c_name,
      |       coalesce(e.total_value, 0.0) AS total_value,
      |       coalesce(e.n_events, 0) AS n_events,
      |       coalesce(e.first_event_type, 'none') AS first_event_type
      |FROM customer c LEFT JOIN per_user e ON c.c_custkey = e.user_id""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      val perUser = Tables.events(s, dir)
        .groupBy($"user_id")
        .agg(
          sum(dec2($"value")).cast("double").as("total_value"),
          count(lit(1)).as("n_events"),
          min_by($"event_type", $"event_id").as("first_event_type"))
      Tables.customer(s, dir)
        .join(perUser, $"c_custkey" === $"user_id", "left")
        .select(
          $"c_custkey", $"c_name",
          coalesce($"total_value", lit(0.0)).as("total_value"),
          coalesce($"n_events", lit(0L)).as("n_events"),
          coalesce($"first_event_type", lit("none")).as("first_event_type"))
  }

  /** Dimensional star join (`silver_to_gold.py:720-727` — implied by the
    * BI layer): fact × all dimensions, every dimension broadcast. Revenue
    * by region × mktsegment.
    */
  val starJoin = Q("j2_star_join",
    """SELECT r.r_name AS region, c.c_mktsegment AS segment,
      |       CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS revenue,
      |       count(DISTINCT o.o_orderkey) AS n_orders
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY r.r_name, c.c_mktsegment""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      val l = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy($"r_name".as("region"), $"c_mktsegment".as("segment"))
        .agg(
          sum(dec2($"l_extendedprice")).cast(org.apache.spark.sql.types.DecimalType(18, 2))
            .cast("double").as("revenue"),
          countDistinct($"o_orderkey").as("n_orders"))
  }

  /** Left-semi join — EXISTS (customers that ordered this millennium). */
  val semiJoin = Q("j3_semi_join",
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      val recent = Tables.orders(s, dir)
        .filter($"o_orderdate" >= lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00")))
      Tables.customer(s, dir)
        .join(recent, $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_name")
  }

  /** Left-anti join — NOT EXISTS (customers with no tracked events). */
  val antiJoin = Q("j4_anti_join",
    """SELECT c_custkey, c_name FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      Tables.customer(s, dir)
        .join(Tables.events(s, dir), $"c_custkey" === $"user_id", "left_anti")
        .select($"c_custkey", $"c_name")
  }

  /** J8: LATERAL correlated subquery — per region, the two
    * highest-balance customers, written as ANSI `, LATERAL (… ORDER BY
    * … LIMIT 2)` and run through `spark.sql` (the SQL-surface face of
    * w1's top-k-per-group). Catalyst DECORRELATES the per-row limit into
    * one row_number window partitioned by the correlation key — verified
    * in the plan — so the "subquery per outer row" never executes per
    * row; at 100 TB it is the same single window pass w1 plans directly.
    *
    * Engine-bug note (pinned in NOTES): Spark 4.1.2 silently returns
    * ZERO rows when a lateral subquery combines GROUP BY with ORDER BY
    * … LIMIT (DuckDB returns the correct rows); this query deliberately
    * uses the sort-limit-only shape, which decorrelates correctly.
    */
  val lateralTopK = Q("j8_lateral_topk",
    """SELECT r.r_name, t.c_name, t.acctbal
      |FROM region r, LATERAL (
      |  SELECT c.c_name, CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal
      |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  WHERE n.n_regionkey = r.r_regionkey
      |  ORDER BY CAST(c.c_acctbal AS DECIMAL(18,2)) DESC, c.c_name LIMIT 2) t""".stripMargin) {
    (s, dir) =>
      Tables.region(s, dir).createOrReplaceTempView("lat_region")
      Tables.nation(s, dir).createOrReplaceTempView("lat_nation")
      Tables.customer(s, dir).createOrReplaceTempView("lat_customer")
      s.sql(
        """SELECT r.r_name, t.c_name, t.acctbal
          |FROM lat_region r, LATERAL (
          |  SELECT c.c_name, CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal
          |  FROM lat_customer c JOIN lat_nation n ON c.c_nationkey = n.n_nationkey
          |  WHERE n.n_regionkey = r.r_regionkey
          |  ORDER BY CAST(c.c_acctbal AS DECIMAL(18,2)) DESC, c.c_name LIMIT 2) t""".stripMargin)
  }

  /** J9: POINT-IN-TIME (temporal) join — each lineitem looks up the
    * customer's priority VERSION that was valid at its ship date from the
    * p10 SCD2 dimension: `valid_from ≤ ship < valid_to` (half-open, NULL
    * valid_to = current). The as-of-a-dimension sibling of j5's as-of on
    * a fact: THE query shape SCD2 exists for, and the one naive users get
    * wrong by joining `is_current` (which backdates today's attribute
    * onto historical facts).
    *
    * Scale shape: the interval predicate rides ON TOP of the custkey
    * equi-join — versions-per-key is small, so Spark plans a keyed
    * SortMergeJoin/broadcast with a post-filter, never an inequality
    * nested loop (PlanSpec global sweep). Every lineitem matches exactly
    * ONE version by construction (intervals partition each key's
    * timeline from its first order date, and ship ≥ its own order's
    * date ≥ that key's first valid_from) — EXCEPT the fixture's
    * early-arriving facts: ~8% of lineitems ship BEFORE the customer's
    * first order date, i.e. before any dimension history exists. The
    * Kimball answer is applied: LEFT join + the UNKNOWN member, so the
    * join stays lossless and fanout-free (TemporalJoinSpec pins
    * Σ n_items = |lineitem| and the early-fact bucket size).
    */
  val temporalJoin = Q("j9_temporal_join",
    """WITH dim AS (
      |  SELECT o_custkey AS custkey,
      |         o_orderpriority AS priority,
      |         epoch_us(o_orderdate) AS valid_from_us,
      |         lead(epoch_us(o_orderdate)) OVER (PARTITION BY o_custkey
      |                            ORDER BY o_orderdate, o_orderkey) AS valid_to_us
      |  FROM orders),
      |fact AS (
      |  SELECT o.o_custkey AS custkey, epoch_us(l.l_shipdate) AS ship_us,
      |         CAST(l.l_extendedprice AS DECIMAL(18,2)) AS price
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
      |SELECT coalesce(d.priority, 'UNKNOWN (early fact)') AS priority_at_ship,
      |       CAST(count(*) AS BIGINT) AS n_items,
      |       CAST(sum(CAST(f.price * 100 AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM fact f LEFT JOIN dim d
      |  ON f.custkey = d.custkey
      | AND d.valid_from_us <= f.ship_us
      | AND (d.valid_to_us IS NULL OR f.ship_us < d.valid_to_us)
      |GROUP BY 1""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      val dim = Tables.orders(s, dir).select(
        $"o_custkey".as("custkey"), $"o_orderpriority".as("priority"),
        unix_micros($"o_orderdate").as("valid_from_us"),
        lead(unix_micros($"o_orderdate"), 1).over(w).as("valid_to_us"))
      // (r13: a spread() of the fact side was tried and REVERTED — the
      // probe is two broadcast joins inside the scan stage, and the 11 MB
      // exchange cost ~2× what the parallel probe saved: 0.9 → 1.8 s)
      val fact = Tables.lineitem(s, dir)
        .select($"l_orderkey", unix_micros($"l_shipdate").as("ship_us"),
          dec2($"l_extendedprice").as("price"))
        .join(Tables.orders(s, dir).select($"o_orderkey", $"o_custkey".as("custkey")),
          $"l_orderkey" === $"o_orderkey")
      fact.join(dim,
          fact("custkey") === dim("custkey") &&
            dim("valid_from_us") <= fact("ship_us") &&
            (dim("valid_to_us").isNull || fact("ship_us") < dim("valid_to_us")),
          "left")
        .groupBy(coalesce(dim("priority"), lit("UNKNOWN (early fact)"))
          .as("priority_at_ship"))
        .agg(count(lit(1)).as("n_items"),
          sum(($"price" * 100).cast("long")).cast("long").as("revenue_cents"))
  }

  /** J10: INTERVAL-OVERLAP join — two interval sets (w4-style user
    * sessions × w14-style system error bursts, user-agnostic) matched on
    * temporal overlap: "which sessions ran during any incident window",
    * the impact-analysis query behind every outage postmortem.
    *
    * Unlike j6 (point-in-range) and j9 (interval riding an equi-key),
    * this is the KEYLESS interval×interval case — the one that tempts a
    * cartesian. The scale shape: each interval explodes to the hour
    * buckets it covers (fanout = span/width, the dial), candidates come
    * from a bucket EQUI-join, duplicates from multi-bucket overlaps drop
    * in one distinct, and the closed-interval predicate verifies. DuckDB
    * replays it as a native IEJoin — same pairs, proving the bucketed
    * plan is exactly the relational overlap semantics.
    */
  val intervalOverlap = Q("j10_interval_overlap",
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
      |                OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
      |              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |sess AS (
      |  SELECT user_id,
      |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                                ROWS UNBOUNDED PRECEDING) AS session_id,
      |         epoch_us(ts) AS t FROM flagged),
      |sessions AS (
      |  SELECT user_id, session_id, min(t) AS s_us, max(t) AS e_us
      |  FROM sess GROUP BY 1, 2),
      |ef AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS t FROM events
      |  WHERE event_type = 'error'),
      |eb AS (
      |  SELECT *, CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) IS NULL
      |                   OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) > 86400000000
      |                 THEN 1 ELSE 0 END AS brk
      |  FROM ef),
      |eg AS (
      |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
      |                           ROWS UNBOUNDED PRECEDING) AS grp
      |  FROM eb),
      |bursts AS (
      |  SELECT user_id AS b_user, grp AS burst_id, min(t) AS b_s_us, max(t) AS b_e_us
      |  FROM eg GROUP BY 1, 2 HAVING count(*) >= 3)
      |SELECT s.user_id, CAST(s.session_id AS BIGINT) AS session_id,
      |       b.b_user, CAST(b.burst_id AS BIGINT) AS burst_id,
      |       least(s.e_us, b.b_e_us) - greatest(s.s_us, b.b_s_us) AS overlap_us
      |FROM sessions s JOIN bursts b
      |  ON s.s_us <= b.b_e_us AND b.b_s_us <= s.e_us""".stripMargin) {
    // priced before run: the cap is ~half the decade rehearsal's measured
    // sf1 projection (626 M) — generous for every gate SF (sf0.1 projects
    // ~6 M), a hard stop before the quadratic regime
    (s, dir) => intervalOverlapPlanPriced(s, dir, bucketUs = 3600000000L,
      candCap = 300000000L)
  }

  /** j10's two interval sets, per-user sessions and error bursts. The
    * pricer reads them to bound the bucket join (Σ_bucket nSessions ×
    * nBursts) before it runs: under fixed-window population
    * densification the keyless overlap grows candidate-quadratic
    * (SCALE.md, "Decade-past-bench rehearsal for the output-bound tier").
    */
  private[graft] def sessionsAndBursts(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
      import s.implicits._
      val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val ev = Tables.events(s, dir)
      val sessions = ev
        .select($"user_id", $"ts", $"event_id", unix_micros($"ts").as("t"))
        .withColumn("new_session",
          when(lag($"t", 1).over(byUser).isNull
            || $"t" - lag($"t", 1).over(byUser) > 1800000000L, 1).otherwise(0))
        .withColumn("session_id", sum($"new_session").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id", $"session_id")
        .agg(min($"t").as("s_us"), max($"t").as("e_us"))
      val byUserT = Window.partitionBy($"user_id").orderBy($"t", $"event_id")
      val bursts = ev.filter($"event_type" === "error")
        .select($"user_id", $"event_id", unix_micros($"ts").as("t"))
        .withColumn("brk",
          when(lag($"t", 1).over(byUserT).isNull
            || $"t" - lag($"t", 1).over(byUserT) > 86400000000L, 1).otherwise(0))
        .withColumn("grp", sum($"brk").over(
          byUserT.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id".as("b_user"), $"grp".as("burst_id"))
        .agg(min($"t").as("b_s_us"), max($"t").as("b_e_us"),
          count(lit(1)).as("n_err"))
        .filter($"n_err" >= 3).drop("n_err")
      (sessions, bursts)
  }

  /** j10's bucketed interval-overlap plan with the bucket width exposed:
    * fanout per interval = span/width, candidate dups per pair = shared
    * buckets. The width is the dial the decade rehearsal swept (SCALE.md,
    * "Decade-past-bench rehearsal for the output-bound tier"); the Q
    * above pins the 1-hour default.
    */
  private[graft] def intervalOverlapPlan(
      s: SparkSession, dir: String, bucketUs: Long): DataFrame = {
      val (sessions, bursts) = sessionsAndBursts(s, dir)
      overlapJoin(s, sessions, bursts, bucketUs)
  }

  private def overlapJoin(s: SparkSession, sessions: DataFrame,
      bursts: DataFrame, bucketUs: Long): DataFrame = {
      import s.implicits._
      val W = bucketUs // fanout = interval span / W
      val sB = sessions.withColumn("bucket",
        explode(expr(s"sequence(s_us div $W, e_us div $W)")))
      val bB = bursts.withColumn("bucket",
        explode(expr(s"sequence(b_s_us div $W, b_e_us div $W)")))
      // emit each overlapping pair ONLY in the first bucket both intervals
      // share — the overlap region's start bucket, which any overlapping
      // pair covers on both sides by construction. A pair that met in k
      // shared buckets used to surface k times and be deduped by a full
      // `distinct()` shuffle of every candidate; the bucket-identity
      // filter makes each pair unique at generation, so the exchange
      // disappears (guide §2.4 — remove shuffles outright). r13 measured:
      // the distinct was the plan's ONLY exchange (72 MB shuffled for a
      // 60k-row result at sf0.1).
      sB.join(bB, "bucket")
        .filter($"s_us" <= $"b_e_us" && $"b_s_us" <= $"e_us"
          && $"bucket" === expr(s"greatest(s_us, b_s_us) div $W"))
        .select($"user_id", $"session_id".cast("long").as("session_id"),
          $"b_user", $"burst_id".cast("long").as("burst_id"),
          (least($"e_us", $"b_e_us") - greatest($"s_us", $"b_s_us")).as("overlap_us"))
  }

  /** j10's plan PRICED BEFORE RUN (d17's discipline, promoted here per
    * the r10 decade rehearsal): the keyless overlap's candidate count
    * Σ_bucket nS·nB is OUTPUT-quadratic under fixed-window population
    * densification (SCALE.md measured ~626 M projected candidates at
    * sf1, ~95% true overlaps — bucket width is not the lever), so the
    * safe production move is to refuse to start a run whose cost is
    * already visible in two LINEAR aggregates. Sessions/bursts
    * materialize once (localCheckpoint) and feed both the pricer and —
    * under the cap — the join itself, so the guard costs two
    * metadata-sized aggregates over already-computed frames, not a
    * recompute. Past the cap it fails loud and names the levers: key the
    * join by the population axis (j12, linear in users), or narrow the
    * burst/session windows.
    */
  private[graft] def intervalOverlapPlanPriced(s: SparkSession, dir: String,
      bucketUs: Long, candCap: Long): DataFrame = {
      import s.implicits._
      val (sessions0, bursts0) = sessionsAndBursts(s, dir)
      val sessions = sessions0.localCheckpoint(true)
      val bursts = bursts0.localCheckpoint(true)
      val W = bucketUs
      val ns = sessions.withColumn("bucket",
          explode(expr(s"sequence(s_us div $W, e_us div $W)")))
        .groupBy($"bucket").agg(count(lit(1)).as("ns"))
      val nb = bursts.withColumn("bucket",
          explode(expr(s"sequence(b_s_us div $W, b_e_us div $W)")))
        .groupBy($"bucket").agg(count(lit(1)).as("nb"))
      val cand = ns.join(nb, "bucket")
        .agg(coalesce(sum($"ns" * $"nb"), lit(0L)).cast("long")).as[Long].head()
      require(cand <= candCap,
        s"j10 keyless interval overlap: projected bucket-join candidates " +
          s"$cand exceed the cap $candCap — this shape is output-quadratic " +
          "under population densification (SCALE.md, decade rehearsal). " +
          "Use j12_keyed_interval_overlap (key by the population axis; " +
          "linear in users) or narrow the session/burst windows.")
      overlapJoin(s, sessions, bursts, bucketUs)
  }

  /** J12: KEYED interval-overlap join — j10's sessions × error bursts
    * restricted to the SAME user: "which of MY sessions ran during one
    * of MY error bursts", the per-tenant incident view. This is the
    * production shape the decade rehearsal prescribes at scale
    * (SCALE.md, "Decade-past-bench rehearsal for the output-bound tier",
    * r10): the keyless j10 is output-quadratic under
    * fixed-window population densification, while keying by the
    * population axis makes candidates Σ_user nS(u)·nB(u) — linear in
    * users at constant per-user activity — and turns the plan into ONE
    * user-keyed shuffle with the overlap verified inside each key (no
    * bucket explosion needed at all: the equi-key is the partitioner).
    */
  val keyedIntervalOverlap = Q("j12_keyed_interval_overlap",
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
      |                OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
      |              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |sess AS (
      |  SELECT user_id,
      |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                                ROWS UNBOUNDED PRECEDING) AS session_id,
      |         epoch_us(ts) AS t FROM flagged),
      |sessions AS (
      |  SELECT user_id, session_id, min(t) AS s_us, max(t) AS e_us
      |  FROM sess GROUP BY 1, 2),
      |ef AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS t FROM events
      |  WHERE event_type = 'error'),
      |eb AS (
      |  SELECT *, CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) IS NULL
      |                   OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) > 86400000000
      |                 THEN 1 ELSE 0 END AS brk
      |  FROM ef),
      |eg AS (
      |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
      |                           ROWS UNBOUNDED PRECEDING) AS grp
      |  FROM eb),
      |bursts AS (
      |  SELECT user_id AS b_user, grp AS burst_id, min(t) AS b_s_us, max(t) AS b_e_us
      |  FROM eg GROUP BY 1, 2 HAVING count(*) >= 3)
      |SELECT s.user_id, CAST(s.session_id AS BIGINT) AS session_id,
      |       CAST(b.burst_id AS BIGINT) AS burst_id,
      |       least(s.e_us, b.b_e_us) - greatest(s.s_us, b.b_s_us) AS overlap_us
      |FROM sessions s JOIN bursts b
      |  ON s.user_id = b.b_user AND s.s_us <= b.b_e_us AND b.b_s_us <= s.e_us""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      val (sessions, bursts) = sessionsAndBursts(s, dir)
      sessions.join(bursts,
          $"user_id" === $"b_user" && $"s_us" <= $"b_e_us" && $"b_s_us" <= $"e_us")
        .select($"user_id", $"session_id".cast("long").as("session_id"),
          $"burst_id".cast("long").as("burst_id"),
          (least($"e_us", $"b_e_us") - greatest($"s_us", $"b_s_us")).as("overlap_us"))
  }

  val queries: Seq[Q] = Seq(j1LeftFill, j1bDedupeFanout, starJoin, semiJoin, antiJoin,
    lateralTopK, temporalJoin, intervalOverlap, keyedIntervalOverlap)
}
