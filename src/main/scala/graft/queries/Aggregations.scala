package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Tables

/** SURVEY §2.4 — aggregation operators over the driver testdata.
  *
  * All grouped aggregates here are single-shuffle hash aggregates with
  * map-side partial aggregation (Spark plans partial+final automatically);
  * at 100 TB the partial combine is what keeps the shuffle narrow.
  */
object Aggregations {

  /** A1 (warm-up per driver contract): grouped sum. */
  val q1Agg = Q("q1_agg",
    "SELECT l_returnflag, sum(l_quantity) AS sum_qty FROM lineitem GROUP BY 1") {
    (s, dir) =>
      import s.implicits._
      Tables.lineitem(s, dir)
        .groupBy($"l_returnflag")
        .agg(sum($"l_quantity").as("sum_qty"))
  }

  /** A1: CM2-style item→order rollup with per-reference rounding
    * (`silver_to_gold.py:504-509`).
    */
  val a1Rollup = Q("a1_order_rollup",
    """SELECT l_orderkey AS order_no,
      |       round(sum(l_quantity), 0) AS qty,
      |       CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |                     * CAST(1.0 - l_discount AS DECIMAL(18,4))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS net_revenue,
      |       count(*) AS n_items
      |FROM lineitem GROUP BY l_orderkey""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      Tables.lineitem(s, dir)
        .groupBy($"l_orderkey")
        .agg(
          round(sum($"l_quantity"), 0).as("qty"),
          Exact.cents(sum(Exact.dec2($"l_extendedprice") * Exact.dec4(lit(1.0) - $"l_discount"))).as("net_revenue"),
          count(lit(1)).as("n_items"))
        .withColumnRenamed("l_orderkey", "order_no")
  }

  /** A3: max-watermark checkpoint aggregate
    * (`bronze_to_silver_all_sources.py:93`). Watermarks surfaced as
    * epoch-µs longs on both sides (DuckDB `epoch_us` ≡ Spark
    * `unix_micros`); the agg runs on the timestamp, the conversion on the
    * single output row.
    */
  val a3Max = Q("a3_max_watermark",
    "SELECT epoch_us(max(ts)) AS high_watermark, epoch_us(min(ts)) AS low_watermark FROM events") {
    (s, dir) =>
      import s.implicits._
      Tables.events(s, dir)
        .agg(unix_micros(max($"ts")).as("high_watermark"),
             unix_micros(min($"ts")).as("low_watermark"))
  }

  /** A4/A6: count actions (guards, per-table stats,
    * `fashion_api_server.py:103`).
    */
  val a6Counts = Q("a6_table_stats",
    """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value
      |FROM events GROUP BY event_type""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      Tables.events(s, dir)
        .groupBy($"event_type")
        .agg(
          count(lit(1)).as("n"),
          countDistinct($"user_id").as("n_users"),
          sum(Exact.dec2($"value")).cast("double").as("total_value"),
          (sum(Exact.dec2($"value")).cast("double") / count(lit(1))).as("avg_value"))
  }

  /** A15: heavy hitters via the Misra–Gries sketch
    * ([[graft.functions.FrequentItems]]) — run here in the EXACT regime
    * (`l_returnflag × l_linestatus` has ≤6 combinations, k=32 counters
    * never trim), so the sketch output equals a plain GROUP BY count and
    * the DuckDB oracle checks it hash-exact. The approximate regime (k ≪ distinct) is gated by error
    * bounds in FrequentItemsSpec — a sketch encoding itself is never
    * cross-engine comparable.
    */
  val a15HeavyHitters = Q("a15_heavy_hitters",
    """SELECT l_returnflag || '-' || l_linestatus AS item, count(*) AS est_count
      |FROM lineitem GROUP BY 1""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      Tables.lineitem(s, dir)
        .select(concat($"l_returnflag", lit("-"), $"l_linestatus").as("v"))
        .agg(call_function("freq_items", $"v", lit(32)).as("hh"))
        .select(explode($"hh").as("e"))
        .select($"e.item".as("item"), $"e.est_count".as("est_count"))
  }

  /** A17: several COUNT(DISTINCT …) over DIFFERENT columns in one
    * aggregation — Catalyst plans this via the Expand operator (one
    * replicated row per distinct-set, then a two-phase aggregate), the
    * operator this query exists to pin. Scale note: Expand multiplies the
    * shuffled rows by the number of distinct sets (×3 here) — at 100 TB
    * prefer one pass per distinct column, or the HLL sketches in
    * `a7_sketch_stats` when ±2% suffices.
    */
  val a17MultiDistinct = Q("a17_distinct",
    """SELECT o_orderpriority,
      |       count(*) AS n_orders,
      |       count(DISTINCT o_custkey) AS n_custs,
      |       count(DISTINCT o_orderstatus) AS n_statuses,
      |       count(DISTINCT CAST(o_orderdate AS DATE)) AS n_days
      |FROM orders GROUP BY o_orderpriority""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      Tables.orders(s, dir)
        .groupBy($"o_orderpriority")
        .agg(
          count(lit(1)).as("n_orders"),
          countDistinct($"o_custkey").as("n_custs"),
          countDistinct($"o_orderstatus").as("n_statuses"),
          countDistinct(to_date($"o_orderdate")).as("n_days"))
  }

  /** A18: exact WEIGHTED median — line price per return flag, weighted by
    * quantity: the lower weighted median (smallest price whose cumulative
    * weight reaches half the total, 2·cum ≥ W). The classic
    * hard-to-distribute order statistic, done exactly with one shuffle:
    * ordered cumulative-weight window per group + a broadcast of the
    * #groups-row totals. Intra-tie cumulative weights are
    * order-dependent, but the RESULT is not: whether the boundary price
    * group qualifies is decided at its last row (all ties included), and
    * `min(price)` over qualifying rows doesn't care which tie member
    * crossed the threshold. The median VALUE is a raw parquet double —
    * no arithmetic touches it, so the hash gate is trivially exact.
    */
  val a18WeightedMedian = Q("a18_weighted_median",
    """WITH r AS (SELECT l_returnflag AS flag, l_extendedprice AS price,
      |             CAST(floor(l_quantity) AS BIGINT) AS w
      |           FROM lineitem),
      |t AS (SELECT flag, sum(w) AS total_weight FROM r GROUP BY flag),
      |c AS (SELECT flag, price,
      |        sum(w) OVER (PARTITION BY flag ORDER BY price
      |                     ROWS UNBOUNDED PRECEDING) AS cw
      |      FROM r)
      |SELECT c.flag, CAST(t.total_weight AS BIGINT) AS total_weight,
      |       min(c.price) AS weighted_median
      |FROM c JOIN t ON c.flag = t.flag
      |WHERE 2 * c.cw >= t.total_weight
      |GROUP BY c.flag, t.total_weight""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      // explicit floor on BOTH sides: a bare double→BIGINT cast truncates
      // in Spark but rounds-to-nearest in DuckDB — identical only while
      // quantities stay integral; floor pins the semantics outright
      val r = Tables.lineitem(s, dir).select(
        $"l_returnflag".as("flag"), $"l_extendedprice".as("price"),
        floor($"l_quantity").cast("long").as("w"))
      val t = r.groupBy($"flag").agg(sum($"w").as("total_weight"))
      val byPrice = org.apache.spark.sql.expressions.Window
        .partitionBy($"flag").orderBy($"price")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      r.withColumn("cw", sum($"w").over(byPrice))
        .join(broadcast(t), "flag")
        .filter(lit(2) * $"cw" >= $"total_weight")
        .groupBy($"flag", $"total_weight")
        .agg(min($"price").as("weighted_median"))
        .select($"flag", $"total_weight", $"weighted_median")
  }

  /** A19: robust outlier flagging by MEDIAN ABSOLUTE DEVIATION — the
    * robust-statistics alternative to z-scores (t22): the median and MAD
    * ignore the very outliers they are hunting, where mean/stddev get
    * dragged toward them. Two exact percentile_disc passes (both engines
    * pick actual member values — no interpolation to diverge on), then
    * the classic |x − med| > 3·1.4826·MAD cut with fixed-order double
    * arithmetic. Scale: two grouped aggregates over the fact + two
    * broadcast joins of #groups-row stats — same shape as t22.
    */
  val a19MadOutliers = Q("a19_mad_outliers",
    """WITH m AS (
      |  SELECT o_orderpriority AS priority,
      |         percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS med
      |  FROM orders GROUP BY o_orderpriority),
      |d AS (
      |  SELECT o.o_orderkey, m.priority, o.o_totalprice, m.med,
      |         abs(o.o_totalprice - m.med) AS adev
      |  FROM orders o JOIN m ON o.o_orderpriority = m.priority),
      |s AS (
      |  SELECT priority,
      |         percentile_disc(0.5) WITHIN GROUP (ORDER BY adev) AS mad
      |  FROM d GROUP BY priority)
      |SELECT d.o_orderkey AS order_no, d.priority, d.o_totalprice AS totalprice,
      |       d.med, s.mad,
      |       d.adev > CAST(3.0 AS DOUBLE) * CAST(1.4826 AS DOUBLE) * s.mad AS is_outlier
      |FROM d JOIN s ON d.priority = s.priority""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      val o = Tables.orders(s, dir)
        .select($"o_orderkey", $"o_orderpriority".as("priority"), $"o_totalprice")
      val m = o.groupBy($"priority").agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").as("med"))
      val d = o.join(broadcast(m), "priority")
        .withColumn("adev", abs($"o_totalprice" - $"med"))
      val mad = d.groupBy($"priority").agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)").as("mad"))
      d.join(broadcast(mad), "priority")
        .select($"o_orderkey".as("order_no"), $"priority",
          $"o_totalprice".as("totalprice"), $"med", $"mad",
          ($"adev" > lit(3.0) * lit(1.4826) * $"mad").as("is_outlier"))
  }

  /** A20: MERGEABLE-SKETCH union — the property that makes sketches the
    * distributed answer to COUNT DISTINCT: per-group HLL sketches (built
    * independently, as 1000 executors would) union into one sketch whose
    * estimate tracks the exact global distinct. a7 checks one sketch's
    * accuracy; this checks MERGEABILITY — keys shared across groups must
    * not double-count through the union (Datasketches HLL, Spark 4
    * `hll_sketch_agg`/`hll_union_agg`). Boolean-contract oracle (the a7
    * idiom): DuckDB recomputes the exact side and asserts the ±6%
    * agreement flag Spark derived.
    */
  val a20SketchUnion = Q("a20_sketch_union",
    """SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
      |       CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_groups,
      |       TRUE AS merged_within_6pct
      |FROM orders""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      val o = Tables.orders(s, dir)
      val merged = o
        .groupBy($"o_orderpriority")
        .agg(hll_sketch_agg($"o_custkey").as("sk"))
        .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("est"),
          count(lit(1)).as("n_groups"))
      val exact = o.agg(countDistinct($"o_custkey").as("exact_custs"))
      // 1-row × 1-row global-stat join (t10 precedent)
      exact.crossJoin(broadcast(merged))
        .select($"exact_custs", $"n_groups",
          (abs($"est" - $"exact_custs") <= $"exact_custs" * 0.06)
            .as("merged_within_6pct"))
  }

  /** A21: MERGEABLE QUANTILE SKETCH — the distributed answer to
    * percentiles at 100 TB, where a12's exact `percentile_disc` needs a
    * per-group sort of the full data. A KMV-style bottom-k sketch
    * ([[graft.functions.BottomKSample]], k = 256 per group) is a uniform
    * sample selected by md5 rank — min-k by key is commutative and
    * associative, so 1000 executors' partial sketches merge to the SAME
    * sample in any order (the property reservoir sampling lacks), state
    * is bounded by 256 × |groups|, and quantiles over the sample estimate
    * the true quantiles with O(1/√k) error. Everything after the sketch
    * is driver-free: sort_array over ≤256 elements per group.
    *
    * Hash-exact (not boolean-contract): the md5 selection rule makes the
    * sample itself reproducible in DuckDB (`row_number() OVER (ORDER BY
    * md5(seed || ':' || v), v)` — the t6 idiom), and money rides the
    * Exact.dec2 cents discipline, so the emitted quantiles are
    * bit-identical integers. Index rule: element at
    * `floor((n-1)·q) + 1` (1-based) of the sorted sample.
    */
  val a21QuantileSketch = Q("a21_quantile_sketch",
    """WITH s AS (
      |  SELECT l_returnflag,
      |         CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR) AS v
      |  FROM lineitem),
      |r AS (
      |  SELECT l_returnflag, CAST(v AS BIGINT) AS vc,
      |         row_number() OVER (PARTITION BY l_returnflag
      |                            ORDER BY md5('7:' || v), v) AS rn
      |  FROM s),
      |o AS (
      |  SELECT l_returnflag, vc,
      |         row_number() OVER (PARTITION BY l_returnflag ORDER BY vc) AS p,
      |         count(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM r WHERE rn <= 256)
      |SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n_sample,
      |  max(CASE WHEN p = CAST(floor((n-1)*0.25) AS BIGINT)+1 THEN vc END) AS p25_cents,
      |  max(CASE WHEN p = CAST(floor((n-1)*0.5)  AS BIGINT)+1 THEN vc END) AS p50_cents,
      |  max(CASE WHEN p = CAST(floor((n-1)*0.75) AS BIGINT)+1 THEN vc END) AS p75_cents,
      |  max(CASE WHEN p = CAST(floor((n-1)*0.9)  AS BIGINT)+1 THEN vc END) AS p90_cents
      |FROM o GROUP BY l_returnflag""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      val centsStr = (Exact.dec2($"l_extendedprice") * 100).cast("bigint").cast("string")
      val samp = Tables.lineitem(s, dir)
        .groupBy($"l_returnflag")
        .agg(call_function("bottom_k_sample", centsStr, lit(256), lit(7)).as("sample"))
        .withColumn("vs", sort_array(expr("transform(sample, x -> CAST(x AS BIGINT))")))
      def qAt(q: Double): org.apache.spark.sql.Column =
        element_at($"vs", (floor((size($"vs") - 1) * lit(q)) + 1).cast("int"))
      samp.select($"l_returnflag",
        size($"vs").cast("bigint").as("n_sample"),
        qAt(0.25).as("p25_cents"), qAt(0.5).as("p50_cents"),
        qAt(0.75).as("p75_cents"), qAt(0.9).as("p90_cents"))
  }

  /** A22: JOIN-KEY SKEW PROFILE — the pre-flight diagnostic for "will
    * this join melt an executor at 1000 nodes": per-key cardinality of
    * the lineitem⋈orders key rolled into a power-of-two frequency histogram (bucket =
    * bit length − 1, an exact integer — floor(log2) via IEEE log would
    * flip at exact powers of two between engines)
    * (freq-bucket → n_keys, n_rows), plus each bucket's share of total
    * rows in ppm (exact integer arithmetic — the per-bucket row mass is
    * what a skewed shuffle partition inherits). Two aggregates, both
    * map-side combinable: count per key, then histogram over counts —
    * the j7 salting / AQE-skew-split decision feeds directly off the top
    * bucket. The same two-pass shape profiles ANY key at any scale
    * (state = |distinct keys| then |buckets|).
    */
  val a22JoinSkewProfile = Q("a22_join_skew_profile",
    """WITH per_key AS (
      |  SELECT l_orderkey AS k, count(*) AS freq FROM lineitem GROUP BY 1),
      |bucketed AS (
      |  SELECT CAST(length(bin(freq)) - 1 AS BIGINT) AS freq_bucket,
      |         count(*) AS n_keys, CAST(sum(freq) AS BIGINT) AS n_rows,
      |         max(freq) AS max_freq
      |  FROM per_key GROUP BY 1)
      |SELECT freq_bucket, n_keys, n_rows, max_freq,
      |       CAST(floor(n_rows * 1000000 / (SELECT sum(freq) FROM per_key)) AS BIGINT) AS row_share_ppm
      |FROM bucketed""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      val perKey = Tables.lineitem(s, dir)
        .groupBy($"l_orderkey".as("k")).agg(count(lit(1)).as("freq"))
      val total = perKey.agg(sum($"freq").as("total"))
      val bucketed = perKey
        .groupBy((length(bin($"freq")) - 1).cast("long").as("freq_bucket"))
        .agg(count(lit(1)).as("n_keys"), sum($"freq").cast("long").as("n_rows"),
          max($"freq").as("max_freq"))
      bucketed.join(broadcast(total))
        .select($"freq_bucket", $"n_keys", $"n_rows", $"max_freq",
          floor($"n_rows" * 1000000L / $"total").cast("long").as("row_share_ppm"))
  }

  /** A23: RFM customer segmentation — the classic commerce scoring
    * (recency / frequency / monetary) with EXACT quintile cuts: each
    * dimension's thresholds come from `percentile_disc` (actual data
    * members — cross-engine exact, the a12 discipline), scores are the
    * 1–5 threshold ladder (recency inverted: fresher = higher), and the
    * output is the ≤125-cell segment grid with population and revenue.
    *
    * Shape: one customer rollup (single shuffle on custkey), a 1-row
    * threshold aggregate broadcast back (the t10 global-stats pattern),
    * a stateless scoring projection, and a ≤125-group aggregate. Ties on
    * a threshold value all land on the same side (`>` ladder), so heavy
    * tie mass skews the quintile populations rather than splitting
    * nondeterministically — the deterministic choice.
    */
  val a23RfmSegments = Q("a23_rfm_segments",
    """WITH cust AS (
      |  SELECT o_custkey,
      |         max(epoch_us(o_orderdate) // 86400000000) AS last_day,
      |         count(*) AS f,
      |         sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS m
      |  FROM orders GROUP BY 1),
      |mx AS (SELECT max(last_day) AS max_day FROM cust),
      |rfm AS (SELECT o_custkey, (SELECT max_day FROM mx) - last_day AS rec, f, m
      |        FROM cust),
      |th AS (SELECT
      |  percentile_disc(0.2) WITHIN GROUP (ORDER BY rec) AS r20,
      |  percentile_disc(0.4) WITHIN GROUP (ORDER BY rec) AS r40,
      |  percentile_disc(0.6) WITHIN GROUP (ORDER BY rec) AS r60,
      |  percentile_disc(0.8) WITHIN GROUP (ORDER BY rec) AS r80,
      |  percentile_disc(0.2) WITHIN GROUP (ORDER BY f) AS f20,
      |  percentile_disc(0.4) WITHIN GROUP (ORDER BY f) AS f40,
      |  percentile_disc(0.6) WITHIN GROUP (ORDER BY f) AS f60,
      |  percentile_disc(0.8) WITHIN GROUP (ORDER BY f) AS f80,
      |  percentile_disc(0.2) WITHIN GROUP (ORDER BY m) AS m20,
      |  percentile_disc(0.4) WITHIN GROUP (ORDER BY m) AS m40,
      |  percentile_disc(0.6) WITHIN GROUP (ORDER BY m) AS m60,
      |  percentile_disc(0.8) WITHIN GROUP (ORDER BY m) AS m80
      |  FROM rfm),
      |scored AS (
      |  SELECT o_custkey, m,
      |    6 - (1 + CAST(rec > r20 AS INT) + CAST(rec > r40 AS INT)
      |           + CAST(rec > r60 AS INT) + CAST(rec > r80 AS INT)) AS r_score,
      |    1 + CAST(f > f20 AS INT) + CAST(f > f40 AS INT)
      |      + CAST(f > f60 AS INT) + CAST(f > f80 AS INT) AS f_score,
      |    1 + CAST(m > m20 AS INT) + CAST(m > m40 AS INT)
      |      + CAST(m > m60 AS INT) + CAST(m > m80 AS INT) AS m_score
      |  FROM rfm, th)
      |SELECT CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
      |       CAST(m_score AS BIGINT) AS m_score,
      |       count(*) AS n_customers, CAST(sum(m) AS BIGINT) AS total_cents
      |FROM scored GROUP BY 1, 2, 3""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      val cust = Tables.orders(s, dir)
        .groupBy($"o_custkey")
        .agg(max(expr("unix_micros(o_orderdate) div 86400000000")).as("last_day"),
          count(lit(1)).as("f"),
          sum((Exact.dec2($"o_totalprice") * 100).cast("long")).as("m"))
      val mx = cust.agg(max($"last_day").as("max_day"))
      val rfm = cust.join(broadcast(mx))
        .select($"o_custkey", ($"max_day" - $"last_day").as("rec"), $"f", $"m")
      def disc(c: String, p: Double) =
        expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY $c)")
      val th = rfm.agg(
        disc("rec", 0.2).as("r20"), disc("rec", 0.4).as("r40"),
        disc("rec", 0.6).as("r60"), disc("rec", 0.8).as("r80"),
        disc("f", 0.2).as("f20"), disc("f", 0.4).as("f40"),
        disc("f", 0.6).as("f60"), disc("f", 0.8).as("f80"),
        disc("m", 0.2).as("m20"), disc("m", 0.4).as("m40"),
        disc("m", 0.6).as("m60"), disc("m", 0.8).as("m80"))
      def ladder(v: Column, q: Seq[String]): Column =
        q.map(t => (v > col(t)).cast("int")).reduce(_ + _) + 1
      rfm.join(broadcast(th))
        .select($"o_custkey", $"m",
          (lit(6) - ladder($"rec", Seq("r20", "r40", "r60", "r80"))).as("r_score"),
          ladder($"f", Seq("f20", "f40", "f60", "f80")).as("f_score"),
          ladder($"m", Seq("m20", "m40", "m60", "m80")).as("m_score"))
        .groupBy($"r_score".cast("long").as("r_score"),
          $"f_score".cast("long").as("f_score"),
          $"m_score".cast("long").as("m_score"))
        .agg(count(lit(1)).as("n_customers"), sum($"m").cast("long").as("total_cents"))
  }

  /** A24: ABC / PARETO revenue classification — parts ranked by revenue,
    * class A while cumulative share ≤ 80%, B to 95%, C beyond: the
    * classic 80/20 assortment analysis.
    *
    * The cumulative share is a GLOBAL running sum over the value-ordered
    * part list — the same single-partition-window trap as w19, solved by
    * the same `operators/PrefixScan`, here with a VALUE-band bucket
    * (`(-rev) div 2²²` — trunc division is monotone in −rev, which is
    * all the scan needs) instead of a time bucket: the operator is
    * order-agnostic. Revenue-uniform corpora concentrate buckets; the
    * band is the dial.
    *
    * Class cuts compare `cum·10⁶ ≤ cut·total` in decimal(38) int128 —
    * never a double division whose rounding could flip a boundary part
    * between engines; the emitted share is an exact integral `div`.
    */
  val a24AbcPareto = Q("a24_abc_pareto",
    """WITH pr AS (
      |  SELECT l_partkey AS p,
      |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
      |  FROM lineitem GROUP BY 1),
      |tot AS (SELECT CAST(sum(rev) AS HUGEINT) AS t FROM pr),
      |run AS (
      |  SELECT p, rev,
      |         CAST(sum(rev) OVER (ORDER BY rev DESC, p
      |                             ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS cum
      |  FROM pr),
      |cls AS (
      |  SELECT p, rev,
      |         CASE WHEN cum * 1000000 <= 800000 * (SELECT t FROM tot) THEN 'A'
      |              WHEN cum * 1000000 <= 950000 * (SELECT t FROM tot) THEN 'B'
      |              ELSE 'C' END AS abc_class
      |  FROM run)
      |SELECT abc_class, count(*) AS n_parts,
      |       CAST(sum(rev) AS BIGINT) AS class_cents,
      |       CAST((CAST(sum(rev) AS HUGEINT) * 1000000) // (SELECT t FROM tot) AS BIGINT) AS share_ppm
      |FROM cls GROUP BY 1""".stripMargin) { (s, dir) =>
    import s.implicits._
    val pr = Tables.lineitem(s, dir)
      .groupBy($"l_partkey".as("p"))
      .agg(sum((Exact.dec2($"l_extendedprice") * 100).cast("long")).as("rev"))
    val tot = pr.agg(sum($"rev").cast("decimal(38,0)").as("t"))
    val run = graft.operators.PrefixScan.runningSum(pr,
      bucket = expr("(-rev) div 4194304"),
      order = Seq($"rev".desc, $"p"),
      value = $"rev", out = "cum")
    run.join(broadcast(tot))
      .select($"p", $"rev",
        when($"cum".cast("decimal(38,0)") * 1000000 <= lit(800000) * $"t", "A")
          .when($"cum".cast("decimal(38,0)") * 1000000 <= lit(950000) * $"t", "B")
          .otherwise("C").as("abc_class"), $"t")
      .groupBy($"abc_class")
      .agg(count(lit(1)).as("n_parts"),
        sum($"rev").cast("long").as("class_cents"),
        expr("CAST((CAST(sum(rev) AS DECIMAL(38,0)) * 1000000) div max(t) AS BIGINT)")
          .as("share_ppm"))
  }

  /** A25: COUNT-MIN frequency sketch — the mergeable point-frequency
    * estimate completing the sketch family (a20 HLL distinct, a21 KMV
    * quantiles): a custom `TypedImperativeAggregate`
    * ([[graft.functions.CountMinSketchAgg]], d=4 × w=1024 counters,
    * element-wise merge — any partial order folds to the same sketch)
    * over every lineitem part occurrence, probed for the heavy keys.
    *
    * Gate idiom (a20's boolean contract — the sketch itself has no DuckDB
    * counterpart): DuckDB recomputes the exact heavy-key counts and
    * asserts the two flags Spark derived from the sketch: the CMS
    * estimate NEVER undercounts (the structural guarantee), and it lands
    * within the 2·N/w collision margin (deterministic for fixed data and
    * hashes). Collects are constant-size: one d·w sketch row and the
    * ≤-heavy-key list.
    */
  val a25CmsHeavyHitters = Q("a25_cms_heavy_hitters",
    """WITH f AS (SELECT l_partkey AS k, count(*) AS n FROM lineitem GROUP BY 1)
      |SELECT k, CAST(n AS BIGINT) AS true_n,
      |       TRUE AS cms_ge_true, TRUE AS cms_within_margin
      |FROM f WHERE n >= 45""".stripMargin) { (s, dir) =>
    import s.implicits._
    val (d, w, seed) = (4, 1024, 11)
    val li = Tables.lineitem(s, dir).select($"l_partkey".cast("string").as("ks"))
    val sketch = li
      .agg(call_function("count_min_counters", $"ks", lit(d), lit(w), lit(seed))
        .as("sk"), count(lit(1)).as("n_total"))
      .collect().head
    val sk = sketch.getSeq[Long](0).toIndexedSeq
    val margin = 2L * sketch.getAs[Long]("n_total") / w
    val heavy = Tables.lineitem(s, dir)
      .groupBy($"l_partkey".as("k")).agg(count(lit(1)).as("true_n"))
      .filter($"true_n" >= 45)
    val est = heavy.select($"k").collect().map(_.getLong(0)).sorted.map { k =>
      k -> graft.functions.CountMinSketch.estimate(sk, k.toString, d, w, seed)
    }.toSeq.toDF("k", "est_n")
    heavy.join(broadcast(est), "k")
      .select($"k", $"true_n",
        ($"est_n" >= $"true_n").as("cms_ge_true"),
        ($"est_n" <= $"true_n" + margin).as("cms_within_margin"))
  }

  /** A26: EXACT mergeable distinct via BITMAP aggregate — per-priority
    * distinct customers through [[graft.functions.BitmapDistinctAgg]]
    * (fixed-size word-OR-mergeable buffer; keys ship as one bitmap per
    * (partition, group), never as distinct rows — see the aggregate's
    * scaladoc for the domain contract and the range-band sharding that
    * makes it exact-decomposable at 100 TB where HLL is not).
    *
    * Hash-exact the straightforward way: the bitmap's cardinality IS the
    * exact count, so the oracle is a plain `count(DISTINCT)` — no boolean
    * contract needed, unlike a20's HLL.
    */
  val a26BitmapDistinct = Q("a26_bitmap_distinct",
    """SELECT o_orderpriority AS priority,
      |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
      |       count(*) AS n_orders
      |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables.orders(s, dir)
      .groupBy($"o_orderpriority".as("priority"))
      .agg(call_function("bitmap_distinct", $"o_custkey", lit(1 << 21))
        .as("n_customers"),
        count(lit(1)).as("n_orders"))
  }

  /** A33: SKETCH-ERROR CALIBRATION — the third leg of the calibration
    * family (d22 prices the blocking's recall, d23 the estimator's bias,
    * a33 the sketch's quantile error): per group, the a21 KMV sample's
    * quantiles against a12-style exact `percentile_disc` over the FULL
    * data, as integer ppm relative errors. This is the report that sizes
    * k — if p90's error at k=256 is inside the pipeline's tolerance, the
    * exact sort never needs to run at 100 TB; if not, the same number
    * says how far to grow k (error ∝ 1/√k).
    *
    * Exactness: both sides are integer cents; the exact side is
    * percentile_disc (a discrete data value — no interpolation), the
    * sketch side replays a21's md5-rank sample rule verbatim; errors are
    * floor-division ppm. Shape: one full-data percentile aggregate (the
    * audit deliberately pays the exact cost ONCE to certify the sketch),
    * one 256-row-per-group sample aggregate, one 3-row broadcast join.
    */
  val a33SketchCalibration = Q("a33_sketch_calibration",
    """WITH s AS (
      |  SELECT l_returnflag,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
      |  FROM lineitem),
      |ex AS (
      |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
      |         percentile_disc(0.5) WITHIN GROUP (ORDER BY vc) AS ex_p50,
      |         percentile_disc(0.9) WITHIN GROUP (ORDER BY vc) AS ex_p90
      |  FROM s GROUP BY 1),
      |r AS (
      |  SELECT l_returnflag, vc,
      |         row_number() OVER (PARTITION BY l_returnflag
      |                            ORDER BY md5('7:' || CAST(vc AS VARCHAR)), CAST(vc AS VARCHAR)) AS rn
      |  FROM s),
      |o AS (
      |  SELECT l_returnflag, vc,
      |         row_number() OVER (PARTITION BY l_returnflag ORDER BY vc) AS p,
      |         count(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM r WHERE rn <= 256),
      |sk AS (
      |  SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n_sample,
      |    max(CASE WHEN p = CAST(floor((n-1)*0.5)  AS BIGINT)+1 THEN vc END) AS sk_p50,
      |    max(CASE WHEN p = CAST(floor((n-1)*0.9)  AS BIGINT)+1 THEN vc END) AS sk_p90
      |  FROM o GROUP BY 1)
      |SELECT ex.l_returnflag, ex.n_rows, sk.n_sample,
      |       ex.ex_p50, sk.sk_p50,
      |       CAST(abs(sk.sk_p50 - ex.ex_p50) * 1000000 // ex.ex_p50 AS BIGINT) AS p50_err_ppm,
      |       ex.ex_p90, sk.sk_p90,
      |       CAST(abs(sk.sk_p90 - ex.ex_p90) * 1000000 // ex.ex_p90 AS BIGINT) AS p90_err_ppm
      |FROM ex JOIN sk ON ex.l_returnflag = sk.l_returnflag""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      val cents = (Exact.dec2($"l_extendedprice") * 100).cast("bigint")
      val base = Tables.lineitem(s, dir).select($"l_returnflag", cents.as("vc"))
      val ex = base.groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          // Spark's percentile_disc surfaces DOUBLE; the value is a
          // discrete data point (an exact integer cents), so the BIGINT
          // cast is lossless — DuckDB's returns BIGINT directly
          expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY vc) AS BIGINT)").as("ex_p50"),
          expr("CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY vc) AS BIGINT)").as("ex_p90"))
      val sk = base
        .groupBy($"l_returnflag")
        .agg(call_function("bottom_k_sample",
          $"vc".cast("string"), lit(256), lit(7)).as("sample"))
        .withColumn("vs", sort_array(expr("transform(sample, x -> CAST(x AS BIGINT))")))
        .select($"l_returnflag".as("rf"),
          size($"vs").cast("bigint").as("n_sample"),
          element_at($"vs", (floor((size($"vs") - 1) * 0.5) + 1).cast("int")).as("sk_p50"),
          element_at($"vs", (floor((size($"vs") - 1) * 0.9) + 1).cast("int")).as("sk_p90"))
      ex.join(broadcast(sk), $"l_returnflag" === $"rf")
        .select($"l_returnflag", $"n_rows", $"n_sample",
          $"ex_p50", $"sk_p50",
          expr("CAST(abs(sk_p50 - ex_p50) * 1000000 div ex_p50 AS BIGINT)").as("p50_err_ppm"),
          $"ex_p90", $"sk_p90",
          expr("CAST(abs(sk_p90 - ex_p90) * 1000000 div ex_p90 AS BIGINT)").as("p90_err_ppm"))
  }

  val queries: Seq[Q] = Seq(q1Agg, a1Rollup, a3Max, a6Counts, a15HeavyHitters,
    a17MultiDistinct, a18WeightedMedian, a19MadOutliers, a20SketchUnion,
    a21QuantileSketch, a22JoinSkewProfile, a23RfmSegments, a24AbcPareto,
    a25CmsHeavyHitters, a26BitmapDistinct, a33SketchCalibration)
}
