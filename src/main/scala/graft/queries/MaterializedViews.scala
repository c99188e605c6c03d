package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Incremental materialized-view maintenance — the warehouse pattern that
  * makes a 100 TB gold layer affordable: never recompute an aggregate from
  * the full fact history; keep MERGEABLE per-group partial states
  * (count / sum / min / max / sum-of-squares) and fold each new load's
  * partials into them. The merge is exactly the combine step of Spark's own
  * two-phase hash aggregation, so proving `merge(partial(old), partial(delta))
  * ≡ full recompute` is proving the MV refresh can run forever without
  * drift. At production scale only the delta is scanned per refresh — the
  * historical partials are |groups| rows, not |fact| rows.
  *
  * Reference analog: the gold marts are rebuilt from silver wholesale every
  * run (`silver_to_gold.py:120-151` overwrites `exec_daily_kpi`); this
  * operator is the scale-correct replacement for that full rebuild.
  *
  * Exactness: money rides [[Exact.dec2]] cents (order-independent integer
  * sums), the variance state is an exact DECIMAL(38,0) sum of cents²
  * (bigint would overflow near sf1; the emitted variance is then IEEE
  * double arithmetic over the exact operands, identical across engines —
  * the Warehouse2 w13 idiom), and the derived mean is a floor-division of
  * exact integers — so the whole maintained view is hash-identical to the
  * oracle's single-pass GROUP BY no matter how many increments or
  * executors produced the partials.
  */
object MaterializedViews {

  /** The maintained-state grain source: one row per order with exact cents. */
  private def base(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir).select(
      date_format($"o_orderdate", "yyyy-MM").as("month_key"),
      $"o_orderpriority".as("priority"),
      (Exact.dec2($"o_totalprice") * 100).cast("bigint").as("cents"),
      $"o_orderdate")
  }

  /** The partial-state aggregation — identical shape for the historical
    * build and every delta load.
    */
  private def partialState(df: DataFrame): DataFrame =
    df.groupBy(col("month_key"), col("priority")).agg(
      count(lit(1)).as("n_orders"),
      sum(col("cents")).as("rev_cents"),
      min(col("cents")).as("min_cents"),
      max(col("cents")).as("max_cents"),
      sum(col("cents").cast(DecimalType(38, 0)) * col("cents")).as("sumsq_cents"))

  /** The state merge — commutative + associative, so any number of delta
    * loads in any order converge to the same view (MvSpec pins 3-way
    * reassociation and an empty delta).
    */
  private[graft] def mergeStates(states: Seq[DataFrame]): DataFrame =
    states.reduce(_.unionByName(_))
      .groupBy(col("month_key"), col("priority")).agg(
        sum(col("n_orders")).cast("bigint").as("n_orders"),
        sum(col("rev_cents")).cast("bigint").as("rev_cents"),
        min(col("min_cents")).as("min_cents"),
        max(col("max_cents")).as("max_cents"),
        sum(col("sumsq_cents")).cast(DecimalType(38, 0)).as("sumsq_cents"))

  /** Derived columns from the exact states (double math only at the very
    * end, on exact operands — deterministic IEEE on both engines).
    */
  private[graft] def finalizeView(view: DataFrame): DataFrame = {
    val n = col("n_orders").cast("double")
    val rev = col("rev_cents").cast("double")
    val ssq = col("sumsq_cents").cast("double")
    view.select(
      col("month_key"), col("priority"), col("n_orders"), col("rev_cents"),
      col("min_cents"), col("max_cents"),
      floor(rev / col("n_orders")).cast("bigint").as("avg_cents"),
      ((ssq - rev * rev / n) / n).as("var_cents2"))
  }

  /** The incremental split: everything before 1997 is the standing MV,
    * 1997+ is the incoming load. (A real deployment persists the pre-split
    * partials — [[partialState]]'s output IS the storable MV state; a
    * driver query must derive both sides from the tables.)
    */
  private val splitDate = "1997-01-01"

  /** mv1: maintained view ≡ full recompute, hash-exact. */
  val mv1IncrementalMv = Q("mv1_incremental_mv",
    """WITH c AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS month_key,
      |         o_orderpriority AS priority,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders)
      |SELECT month_key, priority,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(cents) AS BIGINT) AS rev_cents,
      |       min(cents) AS min_cents,
      |       max(cents) AS max_cents,
      |       CAST(floor(CAST(sum(cents) AS DOUBLE) / count(*)) AS BIGINT) AS avg_cents,
      |       (CAST(sum(CAST(cents AS DECIMAL(38,0)) * cents) AS DOUBLE)
      |        - CAST(sum(cents) AS DOUBLE) * CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE))
      |       / CAST(count(*) AS DOUBLE) AS var_cents2
      |FROM c GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    val b = base(s, dir)
    val historical = partialState(b.filter(col("o_orderdate") < lit(splitDate)))
    val delta = partialState(b.filter(col("o_orderdate") >= lit(splitDate)))
    finalizeView(mergeStates(Seq(historical, delta)))
  }

  /** mv2: sketch-state MV maintenance — the distinct-count column a real
    * KPI view needs, maintained the same incremental way. Exact distinct is
    * NOT mergeable (the state would be the full key set), so the view
    * carries a KMV bottom-k sketch per group ([[graft.functions.BottomKSample]],
    * the a21 machinery; estimation accuracy itself is a20/a21 territory):
    * merging the standing sketch with a delta's sketch is re-selecting the
    * k smallest md5 ranks from the union — pure ARRAY math (concat →
    * dedupe → rank → slice), no re-shuffle of history, state ≤ k ids per
    * group. Each side dedupes its own keys first (the sketch is over the
    * DISTINCT key set; BottomKSample itself keeps duplicates).
    *
    * Hash-exact, not boolean-contract: bottom-k by md5 rank is
    * order-independent, so `merge(sketch(old), sketch(delta)) ≡
    * sketch(all)`, and the oracle derives the identical merged sample with
    * one window over the full distinct key set (t6 idiom).
    */
  val mv2SketchMv = Q("mv2_sketch_mv",
    """WITH r AS (
      |  SELECT o_orderpriority AS priority,
      |         CAST(o_custkey AS VARCHAR) AS v,
      |         md5('11:' || CAST(o_custkey AS VARCHAR)) AS h,
      |         row_number() OVER (PARTITION BY o_orderpriority
      |                            ORDER BY md5('11:' || CAST(o_custkey AS VARCHAR)),
      |                                     CAST(o_custkey AS VARCHAR)) AS rn
      |  FROM (SELECT DISTINCT o_orderpriority, o_custkey FROM orders))
      |SELECT priority,
      |       CAST(count(*) AS BIGINT) AS sketch_size,
      |       string_agg(v, ',' ORDER BY h, v) AS sketch_ids
      |FROM r WHERE rn <= 64 GROUP BY priority""".stripMargin) { (s, dir) =>
    import s.implicits._
    val b = Tables.orders(s, dir).select(
      $"o_orderpriority".as("priority"),
      $"o_custkey".cast("string").as("v"),
      $"o_orderdate")
    def sketch(df: DataFrame): DataFrame =
      df.dropDuplicates("priority", "v")
        .groupBy($"priority")
        .agg(call_function("bottom_k_sample", $"v", lit(64), lit(11)).as("sk"))
    val historical = sketch(b.filter($"o_orderdate" < lit(splitDate)))
    val delta = sketch(b.filter($"o_orderdate" >= lit(splitDate)))
    val emptyArr = expr("CAST(array() AS ARRAY<STRING>)")
    // sketch merge: concat the two samples, dedupe cross-side repeats,
    // re-rank by the SAME md5 key, keep the k smallest — array-only
    // (the history side contributes 64 ids, never |history| rows)
    historical.as("h").join(delta.as("d"), Seq("priority"), "full_outer")
      .select($"priority",
        array_distinct(concat(
          coalesce($"h.sk", emptyArr), coalesce($"d.sk", emptyArr))).as("u"))
      .select($"priority",
        slice(array_sort(expr(
          "transform(u, v -> struct(concat(md5(concat('11:', v)), v) AS k, v AS v))")),
          1, 64).as("kept"))
      .select($"priority",
        size($"kept").cast("bigint").as("sketch_size"),
        concat_ws(",", expr("transform(kept, x -> x.v)")).as("sketch_ids"))
  }

  /** mv3: RETRACTABLE MV maintenance from a row-level CHANGE FEED — the
    * deletes-and-updates completion of mv1 (whose merge only ever ADDS
    * partials). Count and sum are group aggregates with inverses, so the
    * cdc1 feed applies directly as signed deltas: delete/update retract
    * the OLD image from its group, insert/update add the NEW image to
    * its group (two keyed joins back to the snapshots for group
    * columns — the feed stays row-grain). min/max have NO inverse; the
    * standard answer is bounded recompute: ONLY the groups the feed
    * touched re-derive min/max from the current snapshot, untouched
    * groups keep their standing values (valid because untouched means
    * row-identical). Refresh cost: |feed| + |touched groups' rows| +
    * |groups| — never |table|.
    *
    * Oracle: a single GROUP BY over the current snapshot — proving
    * retraction arithmetic + bounded recompute land exactly where a full
    * rebuild would.
    */
  val mv3RetractableMv = Q("mv3_retractable_mv",
    """WITH base AS (
      |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
      |         o_orderpriority AS priority
      |  FROM orders),
      |current AS (
      |  SELECT * FROM base WHERE o_orderkey % 101 <> 0)
      |SELECT priority,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(CAST(price * 100 AS BIGINT)) AS BIGINT) AS rev_cents,
      |       min(CAST(price * 100 AS BIGINT)) AS min_cents,
      |       max(CAST(price * 100 AS BIGINT)) AS max_cents
      |FROM current GROUP BY priority""".stripMargin) { (s, dir) =>
    import s.implicits._
    val (previous, current) = Cdc.snapshots(s, dir)
    def cents(df: DataFrame) = df.select($"o_orderkey", $"priority",
      ($"price" * 100).cast("long").as("cents"))
    val feed = Cdc.cdc1SnapshotDiff.run(s, dir).select($"o_orderkey", $"change_type")
    maintainFromFeed(cents(previous), cents(current), feed)
  }

  /** The mv3 maintenance algebra over `(o_orderkey, priority, cents)`
    * snapshots and a `(o_orderkey, change_type)` feed — factored out so
    * MvSpec can drive the untouched-group path (empty feed) directly.
    */
  private[graft] def maintainFromFeed(
      prevC: DataFrame, curC: DataFrame, feed: DataFrame): DataFrame = {
    // the standing MV state (count/sum/min/max per group)
    val standing = prevC.groupBy(col("priority")).agg(
      count(lit(1)).as("n_orders"), sum(col("cents")).as("rev_cents"),
      min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
    // feed → signed deltas, group columns recovered by keyed joins
    val retract = feed.filter(col("change_type").isin("delete", "update"))
      .join(prevC, "o_orderkey")
      .select(col("priority"), lit(-1L).as("dn"), (-col("cents")).as("dsum"))
    val add = feed.filter(col("change_type").isin("insert", "update"))
      .join(curC, "o_orderkey")
      .select(col("priority"), lit(1L).as("dn"), col("cents").as("dsum"))
    val deltas = retract.unionByName(add).groupBy(col("priority"))
      .agg(sum(col("dn")).as("dn"), sum(col("dsum")).as("dsum"))
    // bounded min/max recompute over touched groups only
    val touched = deltas.select(col("priority"))
    val recomputed = curC.join(touched, Seq("priority"), "left_semi")
      .groupBy(col("priority"))
      .agg(min(col("cents")).as("new_min"), max(col("cents")).as("new_max"))
    standing.join(deltas, Seq("priority"), "full_outer")
      .join(recomputed, Seq("priority"), "left")
      .select(col("priority"),
        (coalesce(col("n_orders"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_orders"),
        (coalesce(col("rev_cents"), lit(0L)) + coalesce(col("dsum"), lit(0L))).as("rev_cents"),
        coalesce(col("new_min"), col("min_cents")).as("min_cents"),
        coalesce(col("new_max"), col("max_cents")).as("max_cents"))
      .filter(col("n_orders") > 0)
      .select(col("priority"), col("n_orders").cast("long").as("n_orders"),
        col("rev_cents").cast("long").as("rev_cents"),
        col("min_cents"), col("max_cents"))
  }

  val queries: Seq[Q] = Seq(mv1IncrementalMv, mv2SketchMv, mv3RetractableMv)
}
