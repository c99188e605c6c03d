package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** PRICED equi-join — the j13/j14/z3 pricers armed as an API (VERDICT r11
  * #3): instead of a user eyeballing degree profiles and picking a join
  * strategy, `PlannedJoin.join(a, b, keys)` runs the two-table pricer
  * (j14's exact Σ cA·cB from the key-degree profiles — row counts only,
  * never a fanout), the payload estimate (z3's per-cell byte model), and
  * picks:
  *
  *  - **fail-loud** — the exact output size exceeds `capRows` (the
  *    decade rehearsal's discipline, SCALE.md), checked FIRST: a
  *    broadcast would dodge the shuffle but not the output volume,
  *    which lands on whatever consumes the join — so no strategy is
  *    exempt from the cap. The error names the levers (pre-aggregate a
  *    side, tighten keys, frequency-cap hot keys, or raise `cap`
  *    deliberately when a pass-through output of this size is the
  *    intent) instead of letting the cluster discover it at shuffle time.
  *  - **broadcast** — an ELIGIBLE side's payload fits the auto-broadcast
  *    threshold (z3's verdict applied, not guessed from stale stats).
  *    Eligibility is joinType-aware: a LEFT join preserves `a`, so only
  *    `b` can build the hash table — when `b` doesn't fit, the verdict
  *    falls THROUGH to the skew check, never to a silent unpriced
  *    shuffle.
  *  - **salted** ([[SkewJoin.saltedJoin]]) — the single hottest key owns
  *    more of the exact output than `saltAbovePpm` (AQE splits
  *    partitions, not keys — past this line one reducer holds the hot
  *    key no matter how AQE rebalances), salt sized from the hot key's
  *    share so it spreads to ≈ the balanced load;
  *  - **shuffle** — within cap, low skew: the plain join IS the right
  *    plan, don't decorate it.
  *
  * Supported joinTypes: `inner` and `left` — the [[SkewJoin]] contract
  * (a right/full/semi/anti join routed through the salted path would
  * replicate the build side's unmatched rows `salt` times); anything
  * else fails loud at entry rather than returning a wrong multiset.
  *
  * Every strategy returns the SAME multiset as the plain equi-join
  * (broadcast/shuffle trivially; salted by [[SkewJoin]]'s pair-exactly-
  * once construction) — so the driver gate (`j15_planned_join`) oracles
  * the planned path against plain SQL, and the strategy choice is pinned
  * separately on skewed/uniform/tiny/over-cap/left fixtures
  * (PlannedJoinSpec).
  *
  * Scale shape: pricing is one groupBy per side + a count-table join +
  * three scalar aggregates — the pre-flight cost a 100 TB pipeline pays
  * happily before committing a fleet to the wrong shuffle. The verdict
  * (a handful of longs) is collected; no data row moves until the chosen
  * join runs.
  */
object PlannedJoin {

  sealed trait Strategy { def label: String }
  /** Broadcast `side` ("a" or "b"). */
  final case class Broadcast(side: String) extends Strategy {
    val label = s"broadcast_$side"
  }
  case object Shuffle extends Strategy { val label = "shuffle" }
  final case class Salted(salt: Int) extends Strategy { val label = s"salted_$salt" }

  private def checkJoinType(joinType: String): Unit =
    require(joinType == "inner" || joinType == "left",
      s"plannedJoin supports joinType 'inner' or 'left', got '$joinType' " +
        "(the salted path replicates the build side, which breaks " +
        "right/full/semi/anti multisets)")

  /** The priced facts — every number the choice needs, exact.
    * `outRows` is joinType-aware: for a LEFT join it includes `a`'s
    * unmatched preserved rows (nA − Σ cA over matched keys) on top of
    * the inner Σ cA·cB, so the cap prices the rows that actually land.
    */
  final case class Price(
      nA: Long, ndvA: Long, nB: Long, ndvB: Long,
      matchedKeys: Long,
      outRows: BigInt,        // exact output rows for the requested joinType
      maxKeyProd: BigInt,     // the hottest key's exact output rows
      topKeyPpm: Long,        // maxKeyProd / outRows in ppm (0 if no output)
      bytesA: Long, bytesB: Long) {
    def smallerBytes: Long = math.min(bytesA, bytesB)
  }

  /** z3's byte model generalized to any schema: 8 B per fixed-width cell,
    * string length + 4, element-width × length for arrays of fixed-width
    * elements, 16 B conservative for anything else. A deliberate lower
    * bound of the hashed-relation size, applied to the threshold the same
    * way Spark applies its own stats.
    */
  private def rowBytes(df: DataFrame): Column = {
    def width(dt: DataType, c: Column): Column = dt match {
      case StringType => coalesce(length(c).cast("long"), lit(0L)) + lit(4L)
      case BinaryType => coalesce(length(c).cast("long"), lit(0L)) + lit(4L)
      case ArrayType(et, _) => et match {
        case FloatType => coalesce(size(c).cast("long"), lit(0L)) * 4L
        case IntegerType => coalesce(size(c).cast("long"), lit(0L)) * 4L
        case _: NumericType => coalesce(size(c).cast("long"), lit(0L)) * 8L
        case _ => coalesce(size(c).cast("long"), lit(0L)) * 16L
      }
      case _: NumericType | BooleanType | DateType | TimestampType => lit(8L)
      case _ => lit(16L)
    }
    df.schema.fields.map(f => width(f.dataType, col(f.name)))
      .reduceOption(_ + _).getOrElse(lit(0L))
  }

  /** The byte-model column for one row of `df` — exposed so callers
    * that need GROUPED byte estimates (per-table-partition write sizing
    * in [[Advisor.sizedForWrite]]) aggregate the same model this
    * object's verdicts use.
    */
  private[graft] def rowBytesCol(df: DataFrame): Column = rowBytes(df)

  /** The z3 payload estimate of one frame, collected — the byte input to
    * z4-style partition sizing ([[Advisor.sizedForWrite]]) and to the
    * broadcast verdicts here.
    */
  def estimateBytes(df: DataFrame): Long =
    df.agg(coalesce(sum(rowBytes(df)), lit(0L)).as("bytes")).head().getLong(0)

  /** Run the pricer: j14's degree-profile arithmetic plus the z3 payload
    * estimate, exact and collected. DECIMAL(38,0) accumulation (a hot
    * key's cA·cB alone can pass 2^63 at 100 TB). Empty sides price to
    * zeros instead of NPE-ing on null sums.
    */
  def price(a: DataFrame, b: DataFrame, keys: Seq[String],
      joinType: String = "inner"): Price = {
    require(keys.nonEmpty, "plannedJoin needs at least one equi-join key")
    checkJoinType(joinType)
    val kc = keys.map(col)
    val da = a.groupBy(kc: _*).agg(count(lit(1)).as("ca"))
    val db = b.groupBy(kc: _*).agg(count(lit(1)).as("cb"))
    val m = da.join(db, keys)
      .select(expr("CAST(ca AS DECIMAL(38,0)) * cb").as("prod"),
        expr("CAST(ca AS DECIMAL(38,0))").as("cad"))
      .agg(count(lit(1)).as("mk"), sum(col("prod")).as("out"),
        max(col("prod")).as("mx"), sum(col("cad")).as("ma"))
      .head()
    val sa = da.agg(coalesce(sum(col("ca")), lit(0L)).as("n"),
      count(lit(1)).as("ndv")).head()
    val sb = db.agg(coalesce(sum(col("cb")), lit(0L)).as("n"),
      count(lit(1)).as("ndv")).head()
    val ba = estimateBytes(a)
    val bb = estimateBytes(b)
    val inner = if (m.isNullAt(1)) BigInt(0) else BigInt(m.getDecimal(1).toBigInteger)
    val mx = if (m.isNullAt(2)) BigInt(0) else BigInt(m.getDecimal(2).toBigInteger)
    val matchedA = if (m.isNullAt(3)) BigInt(0) else BigInt(m.getDecimal(3).toBigInteger)
    val nA = sa.getLong(0)
    // a LEFT join also emits a's unmatched preserved rows — one each, so
    // they raise the output count but never the hottest key's product
    val out = if (joinType == "left") inner + (BigInt(nA) - matchedA) else inner
    Price(
      nA = nA, ndvA = sa.getLong(1),
      nB = sb.getLong(0), ndvB = sb.getLong(1),
      matchedKeys = m.getLong(0),
      outRows = out, maxKeyProd = mx,
      topKeyPpm = if (out == 0) 0L else ((mx * 1000000) / out).toLong,
      bytesA = ba, bytesB = bb)
  }

  /** Spark's default auto-broadcast threshold — z3's line. */
  val broadcastThresholdBytes: Long = graft.queries.ScaleOps.broadcastThresholdBytes
  /** The decade rehearsal's output cap (SCALE.md, "Decade-past-bench
    * rehearsal for the output-bound tier"), shared with j10/j13/j14.
    */
  val capRows: Long = graft.queries.ScaleOps.selfJoinCap
  /** One key owning ≥ 10% of the exact output is past what AQE's
    * partition splitting can rebalance — the salting line.
    */
  val saltAbovePpm: Long = 100000L

  /** The strategy the priced facts dictate (pure — spec-pinned against
    * the advisor's verdicts on skewed/uniform/tiny/over-cap/left
    * fixtures). Decision order: cap → broadcast → salt → shuffle. The
    * cap goes FIRST because no strategy shrinks the output: a
    * broadcastable side over-cap-fanning into a hot fact used to
    * broadcast silently (r12 VERDICT #2) — the shuffle was avoided but
    * the explosion still landed downstream. joinType gates broadcast
    * eligibility: a LEFT join's preserved `a` never broadcasts, and when
    * `b` doesn't fit either, the verdict falls through to the skew check
    * — never to an unpriced shuffle.
    */
  def choose(p: Price,
      broadcastBytes: Long = broadcastThresholdBytes,
      cap: Long = capRows,
      saltPpm: Long = saltAbovePpm,
      parallelism: Int = 32,
      joinType: String = "inner"): Strategy = {
    checkJoinType(joinType)
    if (p.outRows > cap) {
      val bigger = math.max(p.nA, p.nB).max(1L)
      throw new IllegalStateException(
        s"planned join prices at ${p.outRows} output rows (cap $cap; " +
          s"hottest key ${p.maxKeyProd}, ${p.topKeyPpm} ppm of output; " +
          s"fanout ${p.outRows / bigger}× the larger input) — refusing to " +
          "run (broadcast would dodge the shuffle, not the output volume). " +
          "Levers: pre-aggregate one side to the key grain, join on a " +
          "tighter key set, frequency-cap the hot keys (the d2 " +
          "rare-shingle rule) before joining — or raise `cap` deliberately " +
          "if a pass-through output of this size is the intent.")
    }
    val aEligible = joinType != "left" // the preserved side can't build the hash table
    val bcA = aEligible && p.bytesA <= broadcastBytes
    val bcB = p.bytesB <= broadcastBytes
    if (bcA && (!bcB || p.bytesA <= p.bytesB)) Broadcast("a")
    else if (bcB) Broadcast("b")
    else if (p.topKeyPpm >= saltPpm) {
      // spread the hot key to ≈ the balanced per-task share: salt ≈
      // hot-key share × parallelism, clamped to a sane band
      val salt = math.max(2, math.min(parallelism.toLong,
        (p.topKeyPpm * parallelism) / 1000000L + 1L)).toInt
      Salted(salt)
    } else Shuffle
  }

  /** Price, choose, execute. Returns the joined frame (multiset-identical
    * to `a.join(b, keys, joinType)` for every strategy) plus the verdict.
    * `joinType` inner or left — anything else fails loud (see object
    * doc).
    */
  def join(a: DataFrame, b: DataFrame, keys: Seq[String],
      joinType: String = "inner",
      broadcastBytes: Long = broadcastThresholdBytes,
      cap: Long = capRows,
      saltPpm: Long = saltAbovePpm): (DataFrame, Strategy, Price) = {
    checkJoinType(joinType)
    val p = price(a, b, keys, joinType)
    val parallelism = a.sparkSession.sessionState.conf.numShufflePartitions
    val s = choose(p, broadcastBytes, cap, saltPpm, parallelism, joinType)
    val joined = s match {
      case Broadcast("a") => broadcast(a).join(b, keys, joinType)
      case Broadcast(_) => a.join(broadcast(b), keys, joinType)
      case Shuffle => a.join(b, keys, joinType)
      case Salted(n) =>
        require(keys.size == 1,
          "salted path supports a single equi-join key (concat keys " +
            "into one column to salt a composite key)")
        SkewJoin.saltedJoin(a, b, keys.head, salt = n, joinType = joinType)
    }
    (joined, s, p)
  }
}
