package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** LIVE KPI ANOMALY DETECTION — dq3's streaming face: every micro-batch's
  * KPI (the sum of an integer value column) is z-scored against the
  * TRAILING WINDOW of previous batches' KPIs, so a feed that suddenly
  * doubles (upstream replay, unit change) or collapses (broken producer)
  * raises an alert at intake — the scalar-KPI complement of
  * [[StreamingDrift]]'s distribution check.
  *
  * State is the LEDGER ITSELF: each batch appends one
  * `(batch_id, n_rows, kpi)` row (batch-scoped overwrite → replay
  * converges); the trailing window is a metadata-sized read of the last
  * `window` ledger rows — no RocksDB state, no corpus rescan, and the
  * detector's history is inspectable/auditable as a plain table (the
  * dq3 trailing-28-day discipline transplanted from calendar days to
  * batch sequence).
  *
  * Determinism: the KPI and the trailing moments are exact integer sums
  * over ≤ `window` ledger rows; z runs in double over those exact
  * operands in a FIXED expression — replays recompute identical alerts.
  * Batches with fewer than `minHistory` predecessors emit `z = NULL`
  * (warm-up, never an alert) — the dq3 zero-variance rule extended to
  * the cold start; zero variance likewise yields NULL, not ±∞.
  */
object StreamingAnomaly {

  /** The trailing-window verdict for one batch, given the ledger of
    * earlier batches: `(batch_id, n_rows, kpi, mean_prev, z, is_alert)`.
    */
  def scoreBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      valueCol: String, ledgerDir: String, window: Int = 28,
      minHistory: Int = 4, zThreshold: Double = 3.0): DataFrame = {
    val cur = batch.agg(
      count(lit(1)).as("n_rows"),
      coalesce(sum(col(valueCol)), lit(0L)).cast("long").as("kpi"))
      .withColumn("batch_id", lit(batchId))
    // BOUNDED read: exactly the trailing `window` partitions by id —
    // never a list-and-read of the whole feed (r11 verdict #4; the feed
    // FORMAT stays, its per-batch rows being the audit product)
    val priorIds = SnapshotLedger.partIds(spark, ledgerDir)
      .filter(_ < batchId).sorted.takeRight(window)
    val prior =
      if (priorIds.isEmpty) emptyLedger(spark)
      else spark.read.option("basePath", ledgerDir)
        .parquet(priorIds.map(i => s"$ledgerDir/batch_id=$i"): _*)
        .withColumn("batch_id", col("batch_id").cast("long"))
    val stats = prior.agg(
      count(lit(1)).as("n_prev"),
      sum(col("kpi")).cast("long").as("s1"),
      sum(col("kpi").cast(org.apache.spark.sql.types.DecimalType(19, 0))
        * col("kpi")).cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("s2"))
    val joined = cur.crossJoin(broadcast(stats))
    val nD = col("n_prev").cast("double")
    val mean = col("s1").cast("double") / nD
    val variance = col("s2").cast("double") / nD - mean * mean
    val z = (col("kpi").cast("double") - mean) / sqrt(variance)
    joined.select(col("batch_id"), col("n_rows"), col("kpi"),
      when(col("n_prev") >= minHistory, mean).as("mean_prev"),
      when(col("n_prev") >= minHistory && variance > 0, z).as("z"),
      coalesce(when(col("n_prev") >= minHistory && variance > 0,
        abs(z) > zThreshold), lit(false)).as("is_alert"))
  }

  private def emptyLedger(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("batch_id"),
      col("id").as("n_rows"), col("id").as("kpi"))

  /** One micro-batch: score against the trailing ledger, then land the
    * batch's own ledger row and verdict — both writes batch-scoped
    * (replay-idempotent: a replayed batch re-scores against exactly the
    * same prior slice because the ledger is keyed by batch_id and the
    * score reads strictly-earlier rows). Public for direct replay (the
    * StreamingCdf.processBatch discipline).
    */
  def processBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      valueCol: String, ledgerDir: String, verdictDir: String,
      window: Int = 28, minHistory: Int = 4, zThreshold: Double = 3.0): Unit = {
    // EMPTY BATCHES ARE SCORED: kpi = 0 is a legitimate — maximally
    // anomalous — observation, and a totally collapsed feed is exactly
    // the failure this detector exists to catch. Skipping empties would
    // leave a 0-row feed silent forever (the r9 ADVICE finding); the
    // global aggregate in scoreBatch yields one (n_rows=0, kpi=0) row.
    val verdict = scoreBatch(spark, batch, batchId,
      valueCol, ledgerDir, window, minHistory, zThreshold)
      .localCheckpoint(true) // score BEFORE the ledger gains this batch
    // batch_id lives in the directory key (the admission-ledger
    // layout) — not duplicated as a data column
    verdict.select(col("n_rows"), col("kpi"))
      .write.mode("overwrite").parquet(s"$ledgerDir/batch_id=$batchId")
    verdict.withColumn("__batch", lit(batchId))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy("__batch")
      .parquet(verdictDir)
  }

  /** Streaming sink over [[processBatch]]. */
  def sink(rows: DataFrame, valueCol: String, ledgerDir: String,
      verdictDir: String, checkpointDir: String, window: Int = 28,
      minHistory: Int = 4, zThreshold: Double = 3.0,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    rows.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch.sparkSession, batch, batchId, valueCol,
          ledgerDir, verdictDir, window, minHistory, zThreshold)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .outputMode("append")
}
