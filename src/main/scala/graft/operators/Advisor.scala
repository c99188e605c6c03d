package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The armed advisors WIRED into production paths (VERDICT r12 next #1):
  * [[PlannedJoin]] and the z4 partition-sizing arithmetic exist as gated
  * queries (`j15`, `z4`), but until now nothing consumed their verdicts —
  * the domain freight join hard-hinted broadcast, the heavy TPC-H fact
  * joins picked strategies by hand, and the gold writer sized partitions
  * implicitly. This facade routes those sites through the pricers behind
  * one flag:
  *
  *   `spark.graft.advisor.arm = true`   (default false)
  *
  * Off (the default), every wired site runs its hand-picked plan
  * unchanged — zero pricing actions, zero bench impact. Armed, a wired
  * join runs `price → choose → execute` (multiset-identical by
  * [[PlannedJoin]]'s contract) and a wired write repartitions to the
  * 64 MiB operating point from the z4 byte model — and every verdict is
  * recorded in a session-scoped ledger next to the strategy the hand
  * plan had picked, so "does the advisor ever disagree with the human?"
  * is an inspectable fact (AdvisorSpec pins agreement on the real
  * tables; NOTES carries the analysis).
  *
  * Scale shape: arming costs the documented pre-flight price (a few
  * scalar aggregates per wired join, one per wired write) — the toll a
  * 100 TB pipeline pays before committing a fleet to the wrong shuffle.
  * The flag exists precisely so the toll is a choice, not a tax on every
  * sf0.001 test run.
  */
object Advisor {

  /** The arming flag — read per call, so a session can arm/disarm live. */
  val armFlag = "spark.graft.advisor.arm"

  def armed(spark: SparkSession): Boolean =
    spark.conf.getOption(armFlag).exists(_.toBoolean)

  /** One wired-site verdict: what the advisor chose, what the hand plan
    * had picked, and the priced facts behind the choice.
    */
  final case class Decision(
      site: String,
      chosen: String,        // PlannedJoin Strategy label, or "write_partitions_N"
      handPicked: String,    // the strategy the unarmed path hard-codes
      agreed: Boolean,
      outRows: BigInt, topKeyPpm: Long, bytesA: Long, bytesB: Long)

  /** Most recent decisions kept per session — a long-lived armed
    * pipeline records forever; the ledger is a diagnostic, not an audit
    * log, so it keeps a bounded tail.
    */
  val ledgerCap = 4096

  // Weak keys: a stopped/abandoned SparkSession must not be pinned by
  // its recorded verdicts (test suites and notebooks cycle sessions in
  // one JVM). All access synchronized on the map.
  private val ledger =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.ArrayBuffer[Decision]]()

  /** Verdicts recorded by this session's armed calls, in call order
    * (the most recent [[ledgerCap]] of them).
    */
  def decisions(spark: SparkSession): Seq[Decision] = ledger.synchronized {
    Option(ledger.get(spark)).map(_.toSeq).getOrElse(Seq.empty)
  }

  def clear(spark: SparkSession): Unit = ledger.synchronized {
    ledger.remove(spark); ()
  }

  private def record(spark: SparkSession, d: Decision): Unit =
    ledger.synchronized {
      val buf = ledger.computeIfAbsent(spark,
        _ => scala.collection.mutable.ArrayBuffer.empty[Decision])
      buf += d
      if (buf.size > ledgerCap) buf.remove(0, buf.size - ledgerCap)
    }

  /** Strategy-family agreement: `broadcast_b` vs `broadcast_b` agree;
    * a hand plan that defers to Spark ("auto") agrees with broadcast and
    * shuffle (those are the plans Spark's own stats pick between) but
    * NOT with salted or a cap refusal — the advisor reaching for either
    * is exactly the disagreement worth surfacing.
    */
  private def agrees(chosen: PlannedJoin.Strategy, handPicked: String): Boolean =
    handPicked match {
      case "auto" => chosen match {
        case PlannedJoin.Broadcast(_) | PlannedJoin.Shuffle => true
        case _ => false
      }
      case h => chosen.label == h
    }

  /** A wired equi-join site. `handPlan` is the existing hand-picked plan
    * (run verbatim when disarmed); armed, the advisor prices `a ⋈ b` on
    * `keys` and executes its own verdict. Both paths return the same
    * multiset — [[PlannedJoin]]'s contract — but possibly different
    * column SETS (usingColumns vs expression joins), so callers select
    * their needed columns downstream of this call.
    */
  def join(site: String, handPicked: String,
      a: DataFrame, b: DataFrame, keys: Seq[String],
      joinType: String = "inner")(handPlan: => DataFrame): DataFrame = {
    val spark = a.sparkSession
    if (!armed(spark)) handPlan
    else {
      // Persist both inputs for the PRICING phase: price() runs five
      // separate scalar actions, and a lineage-carrying input would
      // re-derive per action (the writeSized lesson on the join path).
      // Unpersisted before return — the executed join re-derives its
      // inputs ONCE, which is the disarmed cost; net armed toll is one
      // extra evaluation (the cache fill) plus the pricing aggregates.
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val ca = a.persist(lvl)
      val cb = b.persist(lvl)
      try {
        val (joined, s, p) = PlannedJoin.join(ca, cb, keys, joinType)
        record(spark, Decision(site, s.label, handPicked,
          agrees(s, handPicked), p.outRows, p.topKeyPpm, p.bytesA, p.bytesB))
        joined
      } finally { ca.unpersist(); cb.unpersist(); () }
    }
  }

  /** z4's post-shuffle sizing applied to one output frame: partitions =
    * ⌈est_bytes / 64 MiB⌉ (≥ 1) over the same payload model z4 reports.
    */
  def advisedWritePartitions(df: DataFrame): Int =
    partitionsForBytes(PlannedJoin.estimateBytes(df),
      graft.queries.ScaleOps.targetShuffleBytes)

  private def partitionsForBytes(bytes: Long, target: Long): Int =
    math.max(1L, (bytes + target - 1) / target).toInt

  /** A wired write site: disarmed, the frame passes through (the
    * writer's implicit sizing — whatever upstream shuffles left).
    * Armed with `partitionCols`, each table partition gets its OWN
    * bucket count ⌈partition_bytes / targetBytes⌉ and rows are salted
    * into those buckets — hash-repartitioning on the partition columns
    * alone would send every table partition to exactly ONE task (one
    * file per partition no matter the advised count; a 10 GB month
    * would write one 10 GB file), so the salt is what makes the 64 MiB
    * operating point real. Armed without partitionCols: a plain
    * repartition to the global advised count.
    *
    * The per-partition byte profile is ONE aggregate pass (grouped over
    * the same z3 byte model as every other verdict) collected to the
    * driver — bounded by the table-partition count (months), the same
    * collect class as the pricers.
    *
    * NOTE: the armed estimate pass evaluates `df` once before the write
    * evaluates it again — callers whose frame carries real lineage
    * should use [[writeSized]], which persists across both.
    */
  def sizedForWrite(site: String, df: DataFrame,
      partitionCols: Seq[String] = Nil,
      targetBytes: Long = graft.queries.ScaleOps.targetShuffleBytes): DataFrame = {
    val spark = df.sparkSession
    if (!armed(spark)) df
    else if (partitionCols.isEmpty) {
      val bytes = PlannedJoin.estimateBytes(df)
      val n = partitionsForBytes(bytes, targetBytes)
      record(spark, Decision(site, s"write_partitions_$n", "implicit",
        agreed = true, outRows = BigInt(0), topKeyPpm = 0L,
        bytesA = bytes, bytesB = 0L))
      df.repartition(n)
    } else {
      val pc = partitionCols.map(col)
      val perPart = df.groupBy(pc: _*)
        .agg(coalesce(sum(PlannedJoin.rowBytesCol(df)), lit(0L)).as("__gbytes"))
        .withColumn("__gbuckets",
          greatest(lit(1), expr(s"CAST((__gbytes + ${targetBytes - 1}) " +
            s"div $targetBytes AS INT)")))
      // bounded collect: one row per table partition (months)
      val parts = perPart.collect()
      val totalBytes = parts.map(_.getAs[Long]("__gbytes")).sum
      val total = parts.map(_.getAs[Int]("__gbuckets").toLong).sum
        .min(Int.MaxValue.toLong).toInt.max(1)
      record(spark, Decision(site, s"write_partitions_$total", "implicit",
        agreed = true, outRows = BigInt(0), topKeyPpm = 0L,
        bytesA = totalBytes, bytesB = 0L))
      // bucket map rebuilt from the COLLECTED rows (no second scan of
      // df for unpersisted callers), broadcast back. Left join keeps
      // rows whose partition value is null (they write to the default
      // partition; bucket 1); salt spreads each table partition across
      // its advised bucket count. Final select restores df's column
      // order (a using-join moves the join columns first).
      import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
      val mapSchema = StructType(
        partitionCols.map(n => df.schema(n)) :+
          StructField("__gbuckets", IntegerType, nullable = false))
      val mapRows: java.util.List[org.apache.spark.sql.Row] =
        java.util.Arrays.asList(parts.map { r =>
          org.apache.spark.sql.Row.fromSeq(
            partitionCols.map(n => r.getAs[Any](n)) :+
              r.getAs[Int]("__gbuckets"))
        }: _*)
      val bucketMap = broadcast(spark.createDataFrame(mapRows, mapSchema))
      val allCols = df.columns.map(col)
      df.join(bucketMap, partitionCols, "left")
        .withColumn("__gsalt",
          pmod(hash(allCols: _*), coalesce(col("__gbuckets"), lit(1))))
        .repartition(total, (pc :+ col("__gsalt")): _*)
        .select(allCols: _*)
    }
  }

  /** [[sizedForWrite]] with the persist discipline a LINEAGE-CARRYING
    * frame needs: armed, the frame is persisted so the z4 estimate pass
    * and the write share one evaluation (the first wiring re-derived
    * each gold mart TWICE per armed write — the r13 armed-vs-disarmed
    * probe read the armed pipeline at 4× disarmed at sf0.1, almost all of
    * it recomputation, not pricing; NOTES.md, r13); disarmed, the write
    * runs on the raw frame untouched.
    * The persist is scoped to the call — unpersisted before return.
    */
  def writeSized(site: String, df: DataFrame,
      partitionCols: Seq[String] = Nil,
      targetBytes: Long = graft.queries.ScaleOps.targetShuffleBytes)(
      write: DataFrame => Unit): Unit = {
    val spark = df.sparkSession
    if (!armed(spark)) write(df)
    else {
      val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try write(sizedForWrite(site, cached, partitionCols, targetBytes))
      finally { cached.unpersist(); () }
    }
  }
}
