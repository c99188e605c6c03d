package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Live DISTRIBUTION-DRIFT surveillance — the streaming face of the dq5
  * batch operator, the way [[StreamingDecontam]] is d6's: every
  * micro-batch's value distribution is histogrammed and scored against a
  * REFERENCE distribution frozen at stream start, so a feed whose shape
  * shifts (schema-valid but statistically wrong — the failure mode
  * row-level expectations can't see) raises an alert at intake, not in a
  * post-mortem.
  *
  * The statistic is dq5's: per-bin exact integer ppm shares and the
  * χ²-shaped `(p−q)² div (p+q)` contribution — all floor divisions,
  * order-independent at any parallelism, deterministic across replays
  * (textbook PSI needs `ln`, which neither engine's libm rounds
  * correctly; same rationale as dq5).
  *
  * Reference-vs-batch alignment is a FULL OUTER join on the bin id: a
  * bin the batch never produces still contributes q_ppm-worth of drift
  * (mass the reference expected and didn't see), and a bin the reference
  * never saw contributes p_ppm (novel mass) — both directions of shape
  * failure count.
  *
  * Contract mirrors the other screens: per-batch writes are `__batch`
  * dynamic overwrites (at-least-once foreachBatch → exactly-once
  * effect); the per-batch summary ledger lives at `batch_id=N` dirs like
  * the admission ledger. The reference is bounded by \|bins\| (a
  * constant of the check, never of the data) and broadcasts.
  *
  * Scale: per batch one hash aggregate onto \|bins\| keys (map-side
  * combined — the shuffle moves \|bins\| rows per partition), one
  * broadcast join, one \|bins\|-row rollup. Nothing grows with history.
  */
object StreamingDrift {

  /** The frozen reference: per-bin ppm shares (cached, \|bins\| rows). */
  final case class Reference(bins: DataFrame, binWidth: Long)

  /** Build the reference histogram once per stream from a batch of rows
    * carrying an integer `valueCol` (exact units — cents, µs, counts;
    * the caller owns the normalization, the dq7 cents discipline).
    */
  def prepare(refRows: DataFrame, valueCol: String, binWidth: Long): Reference = {
    val cell = refRows
      .filter(col(valueCol).isNotNull)
      .select(expr(s"$valueCol div $binWidth").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_ref"))
    val tot = cell.agg(sum(col("n_ref")).cast("long").as("t_ref"))
    val bins = cell.join(broadcast(tot))
      .select(col("bin"),
        expr("CAST(n_ref * 1000000 div t_ref AS BIGINT)").as("q_ppm"))
      .cache()
    bins.count() // materialize once; the stream probes it every batch
    Reference(bins, binWidth)
  }

  /** Per-bin drift rows for one batch:
    * `(bin, n_batch, p_ppm, q_ppm, drift_contrib)` — a full outer
    * alignment, so reference-only bins (n_batch = 0) and novel bins
    * (q_ppm = 0) both appear. NOTE a batch with NO non-null values does
    * not come back empty: the full-outer join returns every reference
    * bin with n_batch = 0, summing to a spurious max-drift verdict —
    * callers MUST apply the non-null-values guard before persisting
    * ([[processBatch]] holds it for the frozen reference,
    * [[processBatchRefreshing]] for the refreshing one).
    */
  def screenBatch(batch: DataFrame, ref: Reference, valueCol: String): DataFrame = {
    val cell = batch
      .filter(col(valueCol).isNotNull)
      .select(expr(s"$valueCol div ${ref.binWidth}").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_batch"))
    val tot = cell.agg(sum(col("n_batch")).cast("long").as("t_batch"))
    cell.join(broadcast(tot))
      .select(col("bin"), col("n_batch"),
        expr("CAST(n_batch * 1000000 div t_batch AS BIGINT)").as("p_ppm"))
      .join(ref.bins, Seq("bin"), "full_outer")
      .select(col("bin"),
        coalesce(col("n_batch"), lit(0L)).as("n_batch"),
        coalesce(col("p_ppm"), lit(0L)).as("p_ppm"),
        coalesce(col("q_ppm"), lit(0L)).as("q_ppm"))
      .withColumn("drift_contrib",
        when(col("p_ppm") + col("q_ppm") === 0, 0L).otherwise(
          expr("CAST((p_ppm - q_ppm) * (p_ppm - q_ppm) div (p_ppm + q_ppm) AS BIGINT)")))
  }

  /** One-row batch summary over [[screenBatch]]'s bins:
    * `(n_rows, total_drift, is_alert)`.
    */
  def summarize(bins: DataFrame, alertThreshold: Long): DataFrame =
    bins.agg(
      sum(col("n_batch")).cast("long").as("n_rows"),
      sum(col("drift_contrib")).cast("long").as("total_drift"))
      .withColumn("is_alert", col("total_drift") > alertThreshold)

  // ---------------------------------------------------------------------
  // REFERENCE REFRESH — "frozen at stream start" is a policy choice, not
  // a law: a reference cut from last quarter's corpus eventually flags
  // healthy seasonal movement. The refreshing sink re-freezes per
  // RELEASE CUT instead: each corpus release publishes its histogram as
  // an immutable `version=N` artifact (the CorpusManifest layout — use
  // the SAME version number as the release's manifest so the drift
  // reference is traceable to the exact corpus it summarizes), and every
  // batch scores against the NEWEST published version. Replay stays
  // byte-identical across refreshes because the scoring version is
  // PINNED per batch: the first processing records `ref_version` in the
  // batch's ledger row, and a replay reads the pin back instead of
  // resolving latest — so retention must keep a version until no replay
  // can still need it (the CorpusManifest.expire keepLast contract).
  // ---------------------------------------------------------------------

  /** Publish `refRows`' histogram as reference `version` under
    * `refStoreDir/version=N` — byte-deterministic (one file, bin order),
    * immutable once written. Pair the version with the release's
    * [[graft.operators.CorpusManifest]] version.
    */
  def publishReference(spark: org.apache.spark.sql.SparkSession,
      refStoreDir: String, version: Long, refRows: DataFrame,
      valueCol: String, binWidth: Long): Unit = {
    val ref = prepare(refRows, valueCol, binWidth)
    try ref.bins.withColumn("bin_width", lit(binWidth))
      .coalesce(1).sortWithinPartitions("bin")
      .write.mode("overwrite").parquet(s"$refStoreDir/version=$version")
    finally { ref.bins.unpersist(); () }
  }

  /** Load a published reference version (cached like [[prepare]]'s). */
  def loadReference(spark: org.apache.spark.sql.SparkSession,
      refStoreDir: String, version: Long): Reference = {
    val stored = spark.read.parquet(s"$refStoreDir/version=$version")
    val width = stored.select(col("bin_width")).limit(1)
      .collect().headOption
      .getOrElse(throw new IllegalStateException(
        s"drift reference $refStoreDir/version=$version is empty"))
      .getLong(0)
    val bins = stored.select(col("bin"), col("q_ppm")).cache()
    bins.count()
    Reference(bins, width)
  }

  /** One micro-batch of the refreshing sink — public so a replay can be
    * driven directly in tests. Resolves the batch's reference version
    * and persists it as a pin file BEFORE any scoring output, then
    * scores and writes bins + a ledger row carrying `ref_version`.
    *
    * Pin-before-score is the replay contract (r10 advice): the old
    * shape pinned the version in the LEDGER row, written after the bins
    * — a crash between the two let the replay resolve a newer published
    * reference and rescore the same batch differently, failing the
    * byte-identical-replay guarantee in exactly the window it exists
    * for. The pin is a one-row [[SnapshotLedger]] partition at
    * `summaryDir/_pins/batch_id=N` (r11 verdict #4 — the shared
    * snapshot-ledger substrate instead of a bespoke pin-file format):
    * the `_SUCCESS` marker is the commit, so a torn pin write reads as
    * absent and the replay re-resolves — safe, because the pin lands
    * BEFORE any scoring output exists. Resolution order is pin
    * partition → readable ledger row (stores written before pins
    * existed) → newest published version. A partially-written ledger
    * dir reads as no-pin instead of throwing.
    */
  def processBatchRefreshing(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, batchId: Long, refStoreDir: String, valueCol: String,
      binsDir: String, summaryDir: String, alertThreshold: Long): Unit = {
    if (batch.filter(col(valueCol).isNotNull).isEmpty) return
    val ledgerPath = s"$summaryDir/batch_id=$batchId"
    val pinsDir = s"$summaryDir/_pins"
    val fs = new org.apache.hadoop.fs.Path(ledgerPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val filePin: Option[Long] = SnapshotLedger.committed(spark, pinsDir, batchId)
      .flatMap(_.select(col("ref_version")).collect().headOption.map(_.getLong(0)))
    val ledgerPin: Option[Long] =
      try {
        if (fs.exists(new org.apache.hadoop.fs.Path(ledgerPath)))
          spark.read.parquet(ledgerPath).select(col("ref_version"))
            .collect().headOption.map(_.getLong(0))
        else None
      } catch { case _: Throwable => None } // partial ledger dir = no pin
    val version = filePin.orElse(ledgerPin).getOrElse {
      val vs = graft.operators.CorpusManifest.versions(spark, refStoreDir)
      require(vs.nonEmpty, s"no drift reference published under $refStoreDir")
      vs.max
    }
    if (filePin.isEmpty)
      SnapshotLedger.write(
        spark.range(1).select(lit(version).as("ref_version")),
        pinsDir, batchId)
    val ref = loadReference(spark, refStoreDir, version)
    try writeScored(batch, batchId, ref, valueCol, binsDir, summaryDir,
      alertThreshold)(_.withColumn("ref_version", lit(version)))
    finally { ref.bins.unpersist(); () }
  }

  /** One micro-batch of [[sink]] (and of the monitored intake): bins as
    * a `__batch` dynamic overwrite, summary at `summaryDir/batch_id=N`,
    * both replay-idempotent. Batches with no non-null values write
    * nothing (no drift evidence either way, and a 0-row histogram would
    * divide by zero — the explicit skip IS the contract).
    */
  def processBatch(spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
      batchId: Long, ref: Reference, valueCol: String, binsDir: String,
      summaryDir: String, alertThreshold: Long): Unit =
    if (!batch.filter(col(valueCol).isNotNull).isEmpty)
      writeScored(batch, batchId, ref, valueCol, binsDir, summaryDir,
        alertThreshold)(identity)

  /** The bins + summary write both batch bodies share. */
  private def writeScored(batch: DataFrame, batchId: Long, ref: Reference,
      valueCol: String, binsDir: String, summaryDir: String,
      alertThreshold: Long)(stamp: DataFrame => DataFrame): Unit = {
    val bins = screenBatch(batch, ref, valueCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      bins.withColumn("__batch", lit(batchId))
        .write.option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").partitionBy("__batch").parquet(binsDir)
      stamp(summarize(bins, alertThreshold))
        .write.mode("overwrite").parquet(s"$summaryDir/batch_id=$batchId")
    } finally { bins.unpersist(); () }
  }

  /** The refreshing streaming sink — [[sink]]'s contract with the
    * re-freeze-per-release policy above.
    */
  def sinkRefreshing(rows: DataFrame, refStoreDir: String, valueCol: String,
      binsDir: String, summaryDir: String, alertThreshold: Long,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    driftSink(rows, checkpointDir, trigger)((batch, batchId) =>
      processBatchRefreshing(batch.sparkSession, batch, batchId,
        refStoreDir, valueCol, binsDir, summaryDir, alertThreshold))

  /** Streaming sink: [[processBatch]] against the frozen `ref`. */
  def sink(rows: DataFrame, ref: Reference, valueCol: String,
      binsDir: String, summaryDir: String, alertThreshold: Long,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    driftSink(rows, checkpointDir, trigger)((batch, batchId) =>
      processBatch(batch.sparkSession, batch, batchId, ref, valueCol,
        binsDir, summaryDir, alertThreshold))

  private def driftSink(rows: DataFrame, checkpointDir: String, trigger: Trigger)(
      perBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    rows.writeStream.foreachBatch(perBatch)
      .option("checkpointLocation", checkpointDir).trigger(trigger).outputMode("append")
}
