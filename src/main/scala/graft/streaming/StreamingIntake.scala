package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The composed intake stage: every admission screen, the quota gate,
  * the release ledger, split labels and the health monitors over ONE
  * micro-batch stream in ONE `foreachBatch`, emitting ONE verdict row per
  * document. This is the shape a production intake actually runs: one
  * stream read, one checkpoint, one verdict table, not several sinks
  * whose outputs someone joins later.
  *
  * Every entry point is a prefix of one chain of steps: the content
  * screens ([[screenBatch]]: text near-dup + eval decontam; the private
  * three-screen content step adds the IVF embedding screen), the quota
  * gate, the release append, split labels, and the monitors — each sink
  * runs its chain inside the one sink shell (empty-batch guard,
  * `__batch` verdict write, cache release, index maintenance tick).
  *
  * Composition semantics (each deliberate, spec-pinned):
  *  - every screen sees the SAME raw batch — no screen is applied to
  *    another's survivors, so each verdict column is independently
  *    meaningful and equals what the standalone screen would say
  *    (StreamingIntakeSpec proves verdict equality);
  *  - the history indexes ingest every screened doc, including rejected
  *    ones: dedup history must cover everything SEEN, so a later
  *    near-copy of a rejected page is still flagged (rejection is the
  *    `admitted` bit, not an index hole);
  *  - replay idempotence composes: every index append, ledger and
  *    verdict write is a batch-scoped overwrite, and the decontam screen
  *    is stateless — re-running a crashed batchId converges to the
  *    identical state, exactly-once effect from at-least-once runs.
  *
  * Scale: the decontam side adds one bloom-prefiltered broadcast join to
  * the near-dup screen's band equi-join — nothing new shuffles with
  * history size, and the screens' jobs share the batch scan within the
  * single foreachBatch.
  */
object StreamingIntake {

  /** Run both screens on one batch and join their per-doc verdicts. */
  def screenBatch(batch: DataFrame, indexDir: String, batchId: Long,
      screen: StreamingDecontam.Screen): DataFrame = {
    val nd = StreamingNearDup.screenBatch(batch, indexDir, batchId)
    val dc = StreamingDecontam.screenBatch(batch, screen)
    // both sides emit exactly one row per input doc (spec-pinned), so an
    // inner join preserves the roster
    nd.join(dc, Seq("doc_id"))
      .withColumn("admitted", !col("is_near_dup") && !col("is_contaminated"))
  }

  /** MULTIMODAL intake: all THREE admission screens over one
    * `(doc_id, text, embedding)` batch — [[screenBatch]]'s two plus the
    * embedding screen over the shared IVF postings index
    * ([[StreamingIvf.screenBatch]], catching paraphrases/re-encodes whose
    * surface text shares no shingles) — one verdict row per doc:
    *
    * `(doc_id, is_near_dup, matched_doc, est_jaccard, is_contaminated,
    *   n_shared_ngrams, is_sem_dup, matched_sem_doc, cosine, admitted)`
    *
    * with `admitted` the conjunction of all three clean bits. The
    * embedding history is the SAME versioned, `cell_id=X`-partitioned
    * index ad-hoc probes and the manifest use; its history read prunes to
    * the probed cells.
    */
  def screenBatchMultimodalIvf(batch: DataFrame, indexDir: String, embIndexDir: String,
      batchId: Long, screen: StreamingDecontam.Screen,
      k: Int = 16, tau: Double = 0.40, nprobe: Int = 2): DataFrame =
    screenContent(batch, indexDir, embIndexDir, batchId, screen, k, tau, nprobe)._1
      .withColumnRenamed("clean", "admitted")

  /** The content step every three-screen entry point builds on: the
    * per-doc verdicts of the text near-dup, eval decontam and IVF
    * embedding screens joined on `doc_id` with their conjunction as
    * `clean`, plus both near-dup screens' full verified pair lists
    * (`doc_a, doc_b, …`; already materialized, so reading them re-runs
    * no screen).
    */
  private def screenContent(batch: DataFrame, indexDir: String, embIndexDir: String,
      batchId: Long, screen: StreamingDecontam.Screen,
      k: Int, tau: Double, nprobe: Int): (DataFrame, DataFrame, DataFrame) = {
    val textBatch = batch.select(col("doc_id"), col("text"))
    val (nd, textPairs) =
      StreamingNearDup.screenBatchWithPairs(textBatch, indexDir, batchId)
    val dc = StreamingDecontam.screenBatch(textBatch, screen)
    val (sem, embPairs) = StreamingIvf.screenBatchWithPairs(
      batch.select(col("doc_id").as("vec_id"), col("embedding")),
      embIndexDir, batchId, nprobe = nprobe, tau = tau,
      trainOnFirstBatch = true, k = k)
    // every screen emits exactly one row per input doc (spec-pinned), so
    // the inner joins preserve the roster
    val verdicts = nd.join(dc, Seq("doc_id"))
      .join(sem.select(col("vec_id").as("doc_id"), col("is_near_dup").as("is_sem_dup"),
        col("matched_vec").as("matched_sem_doc"), col("cosine")), Seq("doc_id"))
      .withColumn("clean",
        !col("is_near_dup") && !col("is_contaminated") && !col("is_sem_dup"))
    (verdicts, textPairs, embPairs)
  }

  /** The FULL intake: both content screens PLUS the temperature-quota
    * curriculum gate ([[StreamingAdmission]]) in one foreachBatch. The
    * composition order is deliberate and semantic: quota slots are
    * consumed ONLY by docs that are clean on both content screens — a
    * near-dup or contaminated doc must never burn a language's budget
    * (and, symmetrically, the content verdicts are computed for every
    * doc, not just in-quota ones, so the verdict columns stay equal to
    * the standalone screens'). Verdict row:
    *
    * `(doc_id, lang, is_near_dup, …, is_contaminated, …, clean,
    *   in_quota, admitted = clean ∧ in_quota)`
    *
    * Replay idempotence composes the same way as the parts: the verdict
    * write and ledger write are batch-scoped overwrites, the quota
    * decision for batch k reads only ledgers < k, which replays never
    * touch.
    */
  def screenBatchWithQuota(batch: DataFrame, indexDir: String, batchId: Long,
      screen: StreamingDecontam.Screen, quotaDf: DataFrame,
      ledgerDir: String): DataFrame = {
    val content = screenBatch(batch.select(col("doc_id"), col("text")),
      indexDir, batchId, screen)
      .withColumnRenamed("admitted", "clean")
    gateWithQuota(content, batch, batchId, quotaDf, ledgerDir)
  }

  /** The quota-gate composition step shared by every quota-gated entry
    * point: take per-doc content verdicts (with a `clean` bit), spend
    * quota slots on clean docs only, write the batch's consumption
    * ledger, and return the full verdict rows (`…, clean, in_quota,
    * admitted`).
    */
  private def gateWithQuota(content: DataFrame, batch: DataFrame,
      batchId: Long, quotaDf: DataFrame, ledgerDir: String): DataFrame = {
    val spark = batch.sparkSession
    val withLang = content.join(
      batch.select(col("doc_id").as("b_doc_id"), col("lang")),
      col("doc_id") === col("b_doc_id")).drop("b_doc_id")
    val prior = StreamingAdmission.ledgerBefore(spark, ledgerDir, batchId)
    val cleanDocs = withLang.filter(col("clean"))
      .join(batch.select(col("doc_id").as("t_doc_id"), col("text")),
        col("doc_id") === col("t_doc_id"))
      .select(col("doc_id"), col("lang"), col("text"))
    val inQuota = StreamingAdmission.admitWithin(cleanDocs, quotaDf, prior)
      .select(col("doc_id").as("q_doc_id"))
    val verdicts = withLang
      .join(inQuota, col("doc_id") === col("q_doc_id"), "left")
      .withColumn("in_quota", col("q_doc_id").isNotNull)
      .drop("q_doc_id")
      .withColumn("admitted", col("clean") && col("in_quota"))
    // Persist before the first action: the composed verdict pipeline
    // (band join + decontam screen + two roster joins + quota window) is
    // consumed TWICE — by the ledger write below and by the caller's
    // verdict write — and without the persist the whole thing re-executes
    // per write (deterministic, so cost not drift; but double cost).
    // Caller contract: unpersist after the verdict write (the sinks do;
    // direct spec callers leak at worst one small cached batch).
    verdicts.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ledger: quota consumption this batch (admitted docs only), merged
    // into the shared snapshot-ledger format (increments + running totals)
    StreamingAdmission.writeLedger(spark,
      verdicts.filter(col("admitted"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_admitted")),
      ledgerDir, batchId)
    verdicts
  }

  /** The release step: fingerprint the batch's admitted docs per
    * language and append them to the release ledger
    * ([[StreamingRelease]]) — so "what corpus have we admitted so far" is
    * always one metadata-sized rollup away, with no corpus rescan. The
    * admitted join rides the verdict cache [[gateWithQuota]] installs.
    * Returns `verdicts` unchanged.
    */
  private def release(verdicts: DataFrame, batch: DataFrame,
      releaseDir: String, batchId: Long): DataFrame = {
    StreamingRelease.appendBatch(
      verdicts.filter(col("admitted"))
        .select(col("doc_id"), col("lang"))
        .join(batch.select(col("doc_id"), col("text")), "doc_id"),
      releaseDir, batchId)
    verdicts
  }

  /** THE FULL INTAKE: all three content screens (text near-dup, eval
    * decontam, IVF embedding screen) + the temperature-quota gate + the
    * incremental release ledger, over one `(doc_id, text, lang,
    * embedding)` batch in one foreachBatch. The composition contracts
    * are the union of the parts': every screen sees the raw batch, both
    * history indexes ingest every doc, quota slots are spent only on
    * three-way-clean docs, the release fingerprints only admitted docs,
    * and every write is batch-scoped so replay converges. The embedding
    * history index is the shared, prunable, compactable [[StreamingIvf]]
    * artifact rather than a screen-private layout.
    */
  def screenBatchFullIvf(batch: DataFrame, indexDir: String, embIndexDir: String,
      batchId: Long, screen: StreamingDecontam.Screen, quotaDf: DataFrame,
      ledgerDir: String, releaseDir: String,
      k: Int = 16, tau: Double = 0.40, nprobe: Int = 2): DataFrame =
    release(gateWithQuota(
      screenContent(batch, indexDir, embIndexDir, batchId, screen, k, tau, nprobe)._1,
      batch, batchId, quotaDf, ledgerDir), batch, releaseDir, batchId)

  /** THE FULL INTAKE WITH SPLIT-AT-ADMISSION: the three content screens
    * (text near-dup + eval decontam + IVF embedding screen), the
    * temperature-quota gate, the release ledger, AND leakage-safe
    * train/val/test labels ([[StreamingSplit]]) — one batch, one pass,
    * one verdict row per doc:
    *
    * `(doc_id, lang, is_near_dup, matched_doc, est_jaccard,
    *   is_contaminated, n_shared_ngrams, is_sem_dup, matched_sem_doc,
    *   cosine, clean, in_quota, admitted, root_id, split, split_conflict)`
    *
    * Split semantics on top of the intake contracts:
    *  - the split graph is the UNION of both near-dup screens' full
    *    verified pair lists (text shingle matches AND embedding cosine
    *    matches) — a doc whose only tie to an earlier doc is semantic
    *    still inherits that doc's split, so paraphrase leakage across
    *    the train/eval boundary is blocked by the same rule as textual
    *    leakage;
    *  - EVERY screened doc gets a label, not just admitted ones: the
    *    label store is the component-root memory, and a rejected dup's
    *    label records which side its component lives on (the doc itself
    *    never enters the corpus — `admitted` stays the gate);
    *  - a doc bridging two components already assigned different splits
    *    is flagged `split_conflict` (first-assignment-wins keeps the
    *    smaller root's split; released history is never relabeled).
    */
  def screenBatchFullIvfSplit(batch: DataFrame, indexDir: String, embIndexDir: String,
      batchId: Long, screen: StreamingDecontam.Screen, quotaDf: DataFrame,
      ledgerDir: String, releaseDir: String, labelDir: String,
      k: Int = 16, tau: Double = 0.40, nprobe: Int = 2): DataFrame = {
    val (content, textPairs, embPairs) =
      screenContent(batch, indexDir, embIndexDir, batchId, screen, k, tau, nprobe)
    val verdicts = release(gateWithQuota(content, batch, batchId, quotaDf, ledgerDir),
      batch, releaseDir, batchId)
    // split labels over the union match graph (both pair lists are
    // already-materialized checkpoints — no screen re-execution)
    val edges = textPairs.select(col("doc_a"), col("doc_b"))
      .unionByName(embPairs.select(col("doc_a"), col("doc_b")))
    val labels = StreamingSplit.assignBatch(batch.select(col("doc_id"), col("text")),
      edges, labelDir, batchId)
    val out = verdicts.join(labels, Seq("doc_id")).localCheckpoint(true)
    verdicts.unpersist()
    out
  }

  /** THE MONITORED FULL INTAKE: [[screenBatchFullIvfSplit]]'s three
    * screens + quota + release + split labels, PLUS the three health
    * monitors on the same batch in the same foreachBatch — the drift
    * screen ([[StreamingDrift]], document-length distribution vs a
    * frozen reference), the KPI-anomaly detector ([[StreamingAnomaly]],
    * per-batch admitted-character volume vs the trailing batch ledger),
    * and the incremental profile ([[StreamingProfile]], per-column
    * partials + the exact distinct-doc bitmap). One stream read, one
    * checkpoint, one pass over the batch; every artifact batch-scoped,
    * so the whole composition replays idempotently. This is the
    * production shape: admission and observability are the SAME job, not
    * a second pipeline reading the first one's output. Runs the
    * embedding-index maintenance tick every `compactEvery` batches (see
    * [[landBatch]]).
    */
  def sinkFullIvfSplitMonitored(docs: DataFrame, indexDir: String,
      embIndexDir: String, screen: StreamingDecontam.Screen, quotaDf: DataFrame,
      ledgerDir: String, releaseDir: String, labelDir: String, verdictDir: String,
      driftRef: StreamingDrift.Reference, driftBinsDir: String,
      driftSummaryDir: String, driftThreshold: Long,
      kpiLedgerDir: String, kpiVerdictDir: String,
      profileStatsDir: String, profileBitmapDir: String, profileDomain: Int,
      checkpointDir: String, k: Int = 16, tau: Double = 0.40, nprobe: Int = 2,
      compactEvery: Int = 8,
      trigger: Trigger = Trigger.AvailableNow(),
      cusumDirs: Option[(String, String)] = None,
      sampleDir: Option[String] = None,
      splitHotAbovePpm: Long = 0L): DataStreamWriter[Row] =
    intakeSink(docs, verdictDir, checkpointDir, trigger,
      embIndexDir, compactEvery, splitHotAbovePpm)(
      screenBatchFullIvfSplit(_, indexDir, embIndexDir, _, screen, quotaDf,
        ledgerDir, releaseDir, labelDir, k, tau, nprobe),
      monitors((lens, batchId) => StreamingDrift.processBatch(lens.sparkSession,
          lens, batchId, driftRef, "n_chars", driftBinsDir, driftSummaryDir,
          driftThreshold),
        kpiLedgerDir, kpiVerdictDir, profileStatsDir, profileBitmapDir,
        profileDomain, cusumDirs, sampleDir))

  /** [[sinkFullIvfSplitMonitored]] with the RE-FREEZING drift reference
    * ([[StreamingDrift.processBatchRefreshing]]): each batch scores
    * against the newest reference published under `driftRefStoreDir`
    * (one `version=N` per corpus release cut — share the release's
    * manifest version) and pins `ref_version` in its ledger row, so
    * replays stay byte-identical across refreshes. The admission half is
    * untouched.
    */
  def sinkFullIvfSplitMonitoredRefreshing(docs: DataFrame, indexDir: String,
      embIndexDir: String, screen: StreamingDecontam.Screen, quotaDf: DataFrame,
      ledgerDir: String, releaseDir: String, labelDir: String, verdictDir: String,
      driftRefStoreDir: String, driftBinsDir: String,
      driftSummaryDir: String, driftThreshold: Long,
      kpiLedgerDir: String, kpiVerdictDir: String,
      profileStatsDir: String, profileBitmapDir: String, profileDomain: Int,
      checkpointDir: String, k: Int = 16, tau: Double = 0.40, nprobe: Int = 2,
      compactEvery: Int = 8,
      trigger: Trigger = Trigger.AvailableNow(),
      cusumDirs: Option[(String, String)] = None,
      sampleDir: Option[String] = None,
      splitHotAbovePpm: Long = 0L): DataStreamWriter[Row] =
    intakeSink(docs, verdictDir, checkpointDir, trigger,
      embIndexDir, compactEvery, splitHotAbovePpm)(
      screenBatchFullIvfSplit(_, indexDir, embIndexDir, _, screen, quotaDf,
        ledgerDir, releaseDir, labelDir, k, tau, nprobe),
      monitors((lens, batchId) => StreamingDrift.processBatchRefreshing(
          lens.sparkSession, lens, batchId, driftRefStoreDir, "n_chars",
          driftBinsDir, driftSummaryDir, driftThreshold),
        kpiLedgerDir, kpiVerdictDir, profileStatsDir, profileBitmapDir,
        profileDomain, cusumDirs, sampleDir))

  /** The monitored intake's post-verdict steps (the sink shell's
    * `after`) — drift scoring is the one policy choice, injected by the
    * two public variants above.
    */
  private def monitors(scoreDrift: (DataFrame, Long) => Unit,
      kpiLedgerDir: String, kpiVerdictDir: String, profileStatsDir: String,
      profileBitmapDir: String, profileDomain: Int,
      cusumDirs: Option[(String, String)], sampleDir: Option[String])(
      batch: DataFrame, verdicts: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // live PPS sample of what was ADMITTED (lang = the stratum): the
    // maintained sample always equals a batch t38 rerun over the
    // admitted history — replay-stable because the admitted set per
    // batch is (verdict idempotence) and the scoring is per-payload
    sampleDir.foreach { sd =>
      val admittedDocs = verdicts.filter(col("admitted"))
        .select(col("doc_id"), col("lang").as("source"))
        .join(batch.select(col("doc_id"), col("text")), "doc_id")
        .select(col("doc_id"), col("text"), col("source"))
      StreamingSampler.processBatch(spark, admittedDocs, batchId, sd)
    }
    // monitors see the RAW batch (admission must not bias the
    // health signals), except the KPI which measures what was
    // actually ADMITTED — the quantity downstream consumes
    val lens = batch.select(col("doc_id"),
      length(col("text")).cast("long").as("n_chars"))
    scoreDrift(lens, batchId)
    val admittedChars = verdicts.filter(col("admitted"))
      .select(col("doc_id"))
      .join(lens, "doc_id")
    StreamingAnomaly.processBatch(spark, admittedChars, batchId,
      "n_chars", kpiLedgerDir, kpiVerdictDir)
    // the triad's third leg: two-sided CUSUM on the same admitted
    // KPI — the sustained-small-shift shape (a scraper that starts
    // truncating) that the single-batch z above cannot see
    cusumDirs.foreach { case (cl, cv) =>
      StreamingCusum.processBatch(spark, admittedChars, batchId,
        "n_chars", cl, cv)
    }
    val (stats, bitmap) = StreamingProfile.profileBatch(
      lens, Seq("n_chars"), "doc_id", profileDomain)
    Seq(stats -> profileStatsDir, bitmap -> profileBitmapDir).foreach {
      case (df, dir) =>
        df.withColumn("__batch", lit(batchId))
          .write.option("partitionOverwriteMode", "dynamic")
          .mode("overwrite").partitionBy("__batch").parquet(dir)
    }
  }

  /** Streaming sink for the IVF-indexed full intake
    * ([[screenBatchFullIvf]]), running the embedding-index maintenance
    * tick every `compactEvery` batches (see [[landBatch]]).
    */
  def sinkFullIvf(docs: DataFrame, indexDir: String, embIndexDir: String,
      screen: StreamingDecontam.Screen, quotaDf: DataFrame, ledgerDir: String,
      releaseDir: String, verdictDir: String, checkpointDir: String,
      k: Int = 16, tau: Double = 0.40, nprobe: Int = 2, compactEvery: Int = 8,
      trigger: Trigger = Trigger.AvailableNow(),
      splitHotAbovePpm: Long = 0L): DataStreamWriter[Row] =
    intakeSink(docs, verdictDir, checkpointDir, trigger,
      embIndexDir, compactEvery, splitHotAbovePpm)(
      (batch, batchId) => screenBatchFullIvf(batch, indexDir, embIndexDir,
        batchId, screen, quotaDf, ledgerDir, releaseDir, k, tau, nprobe))

  /** [[screenBatchWithQuota]] plus the [[release]] step: the batch's
    * admitted docs are appended to the incremental release ledger.
    */
  def screenBatchWithQuotaAndRelease(batch: DataFrame, indexDir: String,
      batchId: Long, screen: StreamingDecontam.Screen, quotaDf: DataFrame,
      ledgerDir: String, releaseDir: String): DataFrame =
    release(screenBatchWithQuota(batch, indexDir, batchId, screen, quotaDf, ledgerDir),
      batch, releaseDir, batchId)

  /** One micro-batch of the full intake (content screens + quota):
    * screen, gate, land ledger row + verdict partition. The
    * [[sinkWithQuota]] body, public so a fault-injection harness (and
    * direct replays) can run exactly what the sink runs.
    */
  def processBatchWithQuota(batch: DataFrame, batchId: Long, indexDir: String,
      screen: StreamingDecontam.Screen, quotaDf: DataFrame, ledgerDir: String,
      verdictDir: String): Unit =
    landBatch(batch, batchId, verdictDir)(
      screenBatchWithQuota(_, indexDir, _, screen, quotaDf, ledgerDir))

  /** Streaming sink for the full intake (content screens + quota). */
  def sinkWithQuota(docs: DataFrame, indexDir: String,
      screen: StreamingDecontam.Screen, quotaDf: DataFrame, ledgerDir: String,
      verdictDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    intakeSink(docs, verdictDir, checkpointDir, trigger)(
      screenBatchWithQuota(_, indexDir, _, screen, quotaDf, ledgerDir))

  /** Streaming sink: one foreachBatch, both screens, one verdict table
    * (per-`__batch` dynamic-overwrite partitions, like each screen's own
    * sink).
    */
  def sink(docs: DataFrame, indexDir: String, screen: StreamingDecontam.Screen,
      verdictDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    intakeSink(docs, verdictDir, checkpointDir, trigger)(
      screenBatch(_, indexDir, _, screen))

  /** The one sink shell behind every intake sink: each batch runs [[landBatch]]. */
  private def intakeSink(docs: DataFrame, verdictDir: String,
      checkpointDir: String, trigger: Trigger, embIndexDir: String = "",
      compactEvery: Int = 0, splitHotAbovePpm: Long = 0L)(
      screen: (DataFrame, Long) => DataFrame,
      after: (DataFrame, DataFrame, Long) => Unit = (_, _, _) => ()
  ): DataStreamWriter[Row] =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        landBatch(batch, batchId, verdictDir, embIndexDir, compactEvery,
          splitHotAbovePpm)(screen, after)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .outputMode("append")

  /** One batch of the sink shell. An empty batch writes nothing (no
    * index, ledger or verdict partition). Otherwise `screen` computes the
    * verdicts, they land as the batch's `__batch` dynamic-overwrite
    * partition, `after` runs the post-verdict steps, the verdict cache is
    * released, and every `compactEvery` batches (0 = never) the
    * embedding index under `embIndexDir` runs its composed maintenance
    * tick ([[StreamingIvf.maintenanceTick]]: consolidation + physical
    * erasure of landed retractions + the optional auto-split; safe
    * concurrently with probes). At `nprobe = k` (lossless probing) the
    * tick is verdict-invisible — purge only removes rows every screen
    * already anti-joined away, and a split only refines WHICH cells
    * candidates sit in. At smaller `nprobe` a split shapes recall, never
    * precision (every flagged cosine stays exact).
    */
  private def landBatch(batch: DataFrame, batchId: Long, verdictDir: String,
      embIndexDir: String = "", compactEvery: Int = 0, splitHotAbovePpm: Long = 0L)(
      screen: (DataFrame, Long) => DataFrame,
      after: (DataFrame, DataFrame, Long) => Unit = (_, _, _) => ()): Unit =
    if (!batch.isEmpty) {
      val verdicts = screen(batch, batchId)
      try {
        verdicts.withColumn("__batch", lit(batchId))
          .write.option("partitionOverwriteMode", "dynamic")
          .mode("overwrite").partitionBy("__batch").parquet(verdictDir)
        after(batch, verdicts, batchId)
      } finally { verdicts.unpersist(); () }
      if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
        StreamingIvf.maintenanceTick(batch.sparkSession, embIndexDir, batchId,
          splitHotAbovePpm = splitHotAbovePpm)
        ()
      }
    }
}
