package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.DecimalType

/** LIVE CUSUM SHIFT DETECTION — a32's streaming face and
  * [[StreamingAnomaly]]'s complement in the monitor triad (z-score =
  * spikes, drift = distribution shape, CUSUM = sustained SMALL shifts):
  * every micro-batch's KPI is one observation of a TWO-SIDED CUSUM
  * whose reference freezes on the first `refBatches` warm-up batches. A
  * feed that creeps 5–10% per batch in either direction — too small for
  * any single-batch z to trip — accumulates evidence on the matching
  * side and alarms a bounded number of batches later (a32's
  * calendar-day discipline transplanted to the batch sequence, exactly
  * as StreamingAnomaly transplanted dq3's; a32 itself stays one-sided
  * upper because that is what its oracle pins — the two-sided form is
  * just the upper recursion run on x and on −x with a shared slack).
  *
  * State is the LEDGER ITSELF (the StreamingAnomaly pattern): each batch
  * appends one `(n_rows, kpi, s_up, smin_up, s_dn, smin_dn)` row
  * under `batch_id=N`; batch N needs only its PREDECESSOR row (the
  * running sum/min recurrence carries all history) plus, once, the
  * ≤`refBatches`-row reference prefix — metadata-sized reads, no RocksDB
  * state, an auditable plain table. The reference is DERIVED from the
  * ledger prefix rather than pinned in a separate artifact, so there is
  * no pin-ordering crash window at all (the r10 StreamingDrift lesson,
  * solved here by construction): replays of warm-up batches rewrite
  * byte-identical rows, and every later batch recomputes the same
  * reference from the same immutable prefix.
  *
  * Arithmetic is a32's verbatim: dev = nr·kpi − tr (the reference mean
  * never divides), slack = tr/20, recursion eliminated via
  * C_t = S_t − min(0, min_{j≤t} S_j) — here carried incrementally as
  * s_N = s_{N−1} + (dev − slack), smin_N = min(smin_{N−1}, s_N) — and
  * the alarm line is one full reference batch (C > tr). All products
  * ride DECIMAL(38,0); the surfaced columns are BIGINT.
  */
object StreamingCusum {

  private def emptyLedger(spark: SparkSession): DataFrame =
    spark.range(0).selectExpr("id AS batch_id", "id AS n_rows",
      "id AS kpi", "CAST(id AS DECIMAL(38,0)) AS s_up",
      "CAST(id AS DECIMAL(38,0)) AS smin_up",
      "CAST(id AS DECIMAL(38,0)) AS s_dn",
      "CAST(id AS DECIMAL(38,0)) AS smin_dn")

  /** Exactly the named ledger partitions (batch_id recovered from the
    * layout) — the bounded read [[scoreBatch]] plans: the recurrence
    * needs only the PREDECESSOR row and, once, the ≤`refBatches`-row
    * reference prefix, so nothing ever lists-and-reads the whole feed
    * (r11 verdict #4 — same partition-targeted discipline as
    * [[SnapshotLedger.before]], on the observation-feed format this
    * monitor keeps because its per-batch rows ARE the audit product).
    */
  private def parts(spark: SparkSession, ledgerDir: String, ids: Seq[Long]): DataFrame =
    if (ids.isEmpty) emptyLedger(spark)
    else spark.read.option("basePath", ledgerDir)
      .parquet(ids.map(i => s"$ledgerDir/batch_id=$i"): _*)
      .withColumn("batch_id", col("batch_id").cast("long"))

  /** The two-sided CUSUM verdict for one batch given the ledger of
    * earlier batches: `(batch_id, n_rows, kpi, s_up, smin_up, s_dn,
    * smin_dn, cusum_up_scaled, cusum_dn_scaled, is_alarm)`. The UP side
    * accumulates evidence of a sustained increase, the DOWN side of a
    * sustained collapse (the scraper-starts-truncating shape — an
    * upper-only monitor would sit silent through it); `is_alarm` fires
    * when EITHER side passes the line. Warm-up batches (fewer than
    * `refBatches` predecessors) carry zeros and NULL cusums — they ARE
    * the reference, so they can never alarm.
    */
  def scoreBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      valueCol: String, ledgerDir: String, refBatches: Int = 8): DataFrame = {
    val cur = batch.agg(
      count(lit(1)).as("n_rows"),
      coalesce(sum(col(valueCol)), lit(0L)).cast("long").as("kpi"))
      .withColumn("batch_id", lit(batchId))
    val priorIds = SnapshotLedger.partIds(spark, ledgerDir)
      .filter(_ < batchId).sorted
    // the reference prefix: the first refBatches ledger rows by batch id
    // (immutable once written — replays rewrite identical content).
    // BOUNDED read: exactly those partitions, never the whole feed
    val ref = parts(spark, ledgerDir, priorIds.take(refBatches))
      .agg(count(lit(1)).as("n_ref"),
        coalesce(sum(col("kpi")), lit(0L)).cast(DecimalType(38, 0)).as("tr"))
    // the recurrence seed: the predecessor row's running sums/mins — an
    // aggregate so "no predecessor at all" (batch 0) is one zeros row.
    // BOUNDED read: the single predecessor partition
    def mb(c: String) = coalesce(max_by(col(c), col("batch_id")),
      lit(0).cast(DecimalType(38, 0))).as(c + "_prev")
    val seed = parts(spark, ledgerDir, priorIds.takeRight(1))
      .agg(mb("s_up"), mb("smin_up"), mb("s_dn"), mb("smin_dn"))
    val seeded = cur.crossJoin(broadcast(ref)).crossJoin(broadcast(seed))
    val warm = col("n_ref") < refBatches
    val dev = col("kpi").cast(DecimalType(38, 0)) * col("n_ref") - col("tr")
    val slack = expr("tr div 20")
    val sUp = col("s_up_prev") + (dev - slack)
    val sminUp = least(col("smin_up_prev"), sUp)
    val cusumUp = sUp - sminUp
    val sDn = col("s_dn_prev") + (-dev - slack)
    val sminDn = least(col("smin_dn_prev"), sDn)
    val cusumDn = sDn - sminDn
    val zero = lit(0).cast(DecimalType(38, 0))
    seeded.select(col("batch_id"), col("n_rows"), col("kpi"),
      when(warm, zero).otherwise(sUp).as("s_up"),
      when(warm, zero).otherwise(sminUp).as("smin_up"),
      when(warm, zero).otherwise(sDn).as("s_dn"),
      when(warm, zero).otherwise(sminDn).as("smin_dn"),
      when(warm, lit(null).cast("long")).otherwise(cusumUp.cast("long"))
        .as("cusum_up_scaled"),
      when(warm, lit(null).cast("long")).otherwise(cusumDn.cast("long"))
        .as("cusum_dn_scaled"),
      coalesce(when(!warm, cusumUp > col("tr") || cusumDn > col("tr")),
        lit(false)).as("is_alarm"))
  }

  /** One micro-batch: score against the ledger, land the ledger row and
    * the verdict — both batch-scoped (replay-idempotent: the score reads
    * strictly-earlier rows only). Public for direct replay.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      valueCol: String, ledgerDir: String, verdictDir: String,
      refBatches: Int = 8): Unit = {
    // empty batches are scored: kpi = 0 is the maximally-collapsed
    // observation — exactly what the DOWN side exists to accumulate;
    // never a skip
    val verdict = scoreBatch(spark, batch, batchId, valueCol, ledgerDir,
      refBatches).localCheckpoint(true) // score BEFORE the ledger grows
    verdict.select(col("n_rows"), col("kpi"), col("s_up"), col("smin_up"),
        col("s_dn"), col("smin_dn"))
      .write.mode("overwrite").parquet(s"$ledgerDir/batch_id=$batchId")
    verdict.select(col("batch_id"), col("n_rows"), col("kpi"),
      col("cusum_up_scaled"), col("cusum_dn_scaled"), col("is_alarm"))
      .withColumn("__batch", lit(batchId))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy("__batch")
      .parquet(verdictDir)
  }

  /** Streaming sink over [[processBatch]]. */
  def sink(rows: DataFrame, valueCol: String, ledgerDir: String,
      verdictDir: String, checkpointDir: String, refBatches: Int = 8,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    rows.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch.sparkSession, batch, batchId, valueCol,
          ledgerDir, verdictDir, refBatches)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .outputMode("append")
}
