package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.domain.{DomainConfig, GenSpec, Pipeline}
import graft.operators.CorpusManifest

/** The library's front door — one object that opens (or attaches to) a
  * Spark session with every graft extension installed and gives a user
  * the three things the engine is for, without knowing the module map:
  *
  *  1. **the commerce medallion pipeline** (bronze → silver → gold marts
  *     → `exec_daily_kpi` view over a warehouse directory);
  *  2. **the curation / training-data stack** (near-dup pairs, dup
  *     clusters, ANN probes, corpus manifests) over a data directory's
  *     tables;
  *  3. **the full query registry by name** — every registry query,
  *     runnable individually.
  *
  * ```scala
  * val g = GraftSession.open("/data/tables")           // or .attach(spark, dir)
  * g.run("q1_agg").show()                              // any registry query
  * val kpi = g.runCommercePipeline("/data/warehouse")  // writes marts + views
  * g.sql("SELECT * FROM exec_daily_kpi").show()
  * val pairs = g.nearDupPairs()                        // MinHash LSH candidates
  * g.snapshot(version = 1, manifestDir = "/data/manifests")
  * ```
  *
  * Everything here is a thin, discoverable veneer — each method delegates
  * to the module that owns the logic (and is oracle- or spec-gated
  * there); the facade itself is smoke-tested by GraftSessionSpec.
  */
final class GraftSession private (val spark: SparkSession, val dataDir: String) {

  // ── query registry ───────────────────────────────────────────────────

  /** All driver-gated query names (SURVEY §2 operators + extensions). */
  def queryNames: Seq[String] = SparkEntry.registry.map(_.name)

  /** Run one registry query by name against this session's data dir. */
  def run(name: String): DataFrame =
    SparkEntry.queries.getOrElse(name,
      throw new NoSuchElementException(
        s"unknown query '$name' — see queryNames (${queryNames.size} available)"))(
      spark, dataDir)

  def sql(q: String): DataFrame = spark.sql(q)

  /** A testdata table by name (pinned schema, unit-adaptive for events). */
  def table(name: String): DataFrame = Tables.load(spark, dataDir, name)

  // ── the commerce medallion pipeline ──────────────────────────────────

  /** Run the full bronze → silver → gold pipeline, write the
    * monthly-partitioned warehouse to `warehouseDir`, register the
    * `exec_daily_kpi` (and mart) SQL views, and return the KPI frame.
    */
  def runCommercePipeline(warehouseDir: String,
      spec: GenSpec = GenSpec(),
      cfg: DomainConfig = DomainConfig(dedupeFreight = true)): DataFrame = {
    val (_, gold, kpi) = Pipeline.runInMemory(spark, spec, cfg)
    Pipeline.writeWarehouse(gold, warehouseDir, Pipeline.WholeTable)
    Pipeline.registerViews(spark, warehouseDir)
    kpi
  }

  /** The flagship KPI query over this data dir's testdata tables. */
  def execDailyKpi(): DataFrame = queries.CommerceKpi.execDailyKpi(spark, dataDir)

  // ── the curation / training-data stack ───────────────────────────────

  /** MinHash-LSH near-duplicate candidate pairs over `documents`
    * (banded, never all-pairs): `(doc_a, doc_b, est_jaccard)`.
    */
  def nearDupPairs(): DataFrame = queries.Dedup.minhashPairs(spark, dataDir)

  /** Connected-component duplicate clusters over the LSH pairs:
    * `(doc_id, cluster_id)` for every clustered doc.
    */
  def dupClusters(): DataFrame = operators.DupClusters.dupClustersQuery(spark, dataDir)

  /** Top-`topK` ANN neighbors for `probes` `(vec_id, embedding)` against
    * the build-once persisted IVF index over `embeddings`.
    */
  def annTopK(probes: DataFrame, nprobe: Int = 4, topK: Int = 3): DataFrame = {
    // the persisted layout is built (memoized) on first use
    val out = operators.IvfIndex.persistedLayout(spark, dataDir)
    val cents = spark.read.parquet(s"$out/centroids")
    val cells = operators.IvfIndex.probeCells(probes, cents, nprobe)
    import org.apache.spark.sql.functions._
    val cellIds = cells.select(col("cell_id")).distinct()
      .collect().map(_.getInt(0)).toIndexedSeq
    val members = spark.read.parquet(s"$out/postings")
      .filter(col("cell_id").isin(cellIds: _*))
    val withQ = cells.join(broadcast(probes.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))), Seq("query_id"))
    val qNorm = sqrt(call_function("vec_dot", col("q_emb"), col("q_emb")))
    val cNorm = sqrt(call_function("vec_dot", col("embedding"), col("embedding")))
    withQ.join(members, Seq("cell_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (call_function("vec_dot", col("q_emb"), col("embedding"))
          / (qNorm * cNorm)).as("cosine"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(desc("cosine"), col("neighbor_id"))))
      .filter(col("rank") <= topK)
  }

  /** Run the FULL streaming intake (text near-dup + eval decontam +
    * IVF-indexed embedding SemDeDup screens, token-free quota gate,
    * release ledger) over a `(doc_id, text, lang, embedding)` stream into
    * `workDir/{index,embindex,ledger,release,verdicts,ckpt}`. Returns the
    * started query; read verdicts from `workDir/verdicts` when done.
    */
  def runIntake(docs: DataFrame, evalDocs: DataFrame, quota: DataFrame,
      workDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    streaming.StreamingIntake.sinkFullIvf(docs,
      s"$workDir/index", s"$workDir/embindex",
      streaming.StreamingDecontam.prepare(evalDocs), quota,
      s"$workDir/ledger", s"$workDir/release",
      s"$workDir/verdicts", s"$workDir/ckpt").start()

  /** Gate a stream into a serving table through write-audit-publish:
    * batches that violate any expectation quarantine instead of landing.
    * Table at `workDir/table`, quarantine + audit trail beside it.
    */
  def runWapLoad(rows: DataFrame,
      expectations: Seq[streaming.StreamingWap.Expectation],
      workDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    streaming.StreamingWap.sink(rows, expectations, s"$workDir/table",
      s"$workDir/quarantine", s"$workDir/audit", s"$workDir/ckpt").start()

  /** Cross the batch→streaming migration seam: one-time historical load
    * below `cutoff`, after which [[resumeLive]] streams the `ts >= cutoff`
    * side exactly-once into the same serving root — see
    * [[streaming.StreamingBackfill]] for the seam contract.
    */
  def backfill(historical: DataFrame, tsCol: String,
      cutoff: java.sql.Timestamp, root: String): Unit =
    streaming.StreamingBackfill.backfill(historical, tsCol, cutoff, root)

  /** The live half of a published seam (refuses to start before
    * [[backfill]] has run). Serve both sides with
    * [[streaming.StreamingBackfill.serve]].
    */
  def resumeLive(stream: DataFrame, tsCol: String, root: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    streaming.StreamingBackfill.liveSink(stream, tsCol, root, checkpoint).start()

  /** Split every hot cell of a maintained streaming-IVF index (postings
    * above `thresholdPpm` of the balanced share — the e33 load signal);
    * run at a quiescent point like any OPTIMIZE-class rewrite. Returns
    * retired cell → its new sub-cells. See
    * [[streaming.StreamingIvf.splitCell]].
    */
  def splitHotCells(indexDir: String,
      thresholdPpm: Long = 4000000L): Map[Int, Seq[Int]] =
    streaming.StreamingIvf.hotCells(spark, indexDir, thresholdPpm)
      .map(c => c -> streaming.StreamingIvf.splitCell(spark, indexDir, c)).toMap

  /** Maintain the Type-1 upsert snapshot AND emit its change-data feed
    * (insert/update with old + new images, no-ops suppressed) — the
    * store→feed half of the CDC loop; pipe the feed into
    * [[maintainView]] for the full chain. See [[streaming.StreamingCdf]].
    */
  def upsertWithCdf(updates: DataFrame, keyCol: String, seqCol: String,
      snapshotDir: String, cdfDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    streaming.StreamingCdf.sink(updates, keyCol, seqCol, snapshotDir, cdfDir,
      checkpoint).start()

  /** TIME TRAVEL over an [[upsertWithCdf]] store: the snapshot as it
    * stood after batch `version`, reconstructed by reverse-applying the
    * change feed — see [[streaming.StreamingCdf.asOf]].
    */
  def snapshotAsOf(snapshotDir: String, cdfDir: String, keyCol: String,
      version: Long): DataFrame =
    streaming.StreamingCdf.asOf(spark, snapshotDir, cdfDir, keyCol, version)

  /** [[upsertWithCdf]] with DELETES: rows whose boolean `delCol` is set
    * tombstone their key out of the live view (retained physically until
    * [[vacuumTombstones]], so stale redeliveries can never resurrect a
    * deleted key); the feed gains the `delete` change type. Read the
    * live view with [[streaming.StreamingTombstone.snapshot]]; time
    * travel with [[snapshotAsOfDeletes]].
    */
  def upsertWithDeletes(updates: DataFrame, keyCol: String, seqCol: String,
      delCol: String, snapshotDir: String, cdfDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    streaming.StreamingTombstone.sink(updates, keyCol, seqCol, delCol,
      snapshotDir, cdfDir, checkpoint).start()

  /** [[snapshotAsOf]] over a delete-capable store — the feed's `delete`
    * rows resurrect their old images on the way back.
    */
  def snapshotAsOfDeletes(snapshotDir: String, cdfDir: String, keyCol: String,
      delCol: String, version: Long): DataFrame =
    streaming.StreamingTombstone.asOf(spark, snapshotDir, cdfDir, keyCol,
      delCol, version)

  /** Reclaim tombstones at/below the redelivery horizon — see
    * [[streaming.StreamingTombstone.vacuum]]. Returns the count removed.
    */
  def vacuumTombstones(snapshotDir: String, seqCol: String, delCol: String,
      seqHorizon: Long): Long =
    streaming.StreamingTombstone.vacuum(spark, snapshotDir, seqCol, delCol,
      seqHorizon)

  /** TAKEDOWN (GDPR erasure / post-hoc contamination finding): tombstone
    * the docs out of the admitted-corpus store AND retract their
    * fingerprints from the release ledger, in one batch. The retraction
    * source is the store's own delete feed — double-deletes and
    * never-admitted keys are suppressed by construction, so the release
    * keeps tracking the live view exactly (spec-pinned in
    * StreamingReleaseSpec). `takedowns` rows carry the store schema
    * (including `doc_id`, `lang`, `text` for the fingerprint) with the
    * tombstone flag set and a seq newer than the admitted rows'. Returns
    * the number of docs actually erased.
    *
    * `batchId` must sit ABOVE the feed's current high-water mark:
    * processBatch dynamic-overwrites the feed's `batch_id=N` partition,
    * and the admission stream checkpoints its own 0..N sequence on the
    * SAME cdfDir — a colliding id would silently destroy that batch's
    * feed history and corrupt every `snapshotAsOfDeletes` read at or
    * behind it. The guard fails fast on any id ≤ the high-water mark,
    * with ONE admission: an id equal to the mark whose existing feed
    * batch is recognizably this takedown's own prior attempt (all-delete
    * rows over a subset of these keys) — the crash-replay shape, where
    * re-running with the original id is exactly what restores the
    * release retraction.
    */
  def takedown(takedowns: DataFrame, seqCol: String, delCol: String,
      snapshotDir: String, cdfDir: String, releaseDir: String,
      batchId: Long): Long = {
    import org.apache.spark.sql.functions.col
    val cdfPath = new org.apache.hadoop.fs.Path(cdfDir)
    val fs = cdfPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // high-water mark from the partition DIR NAMES — metadata-only, never
    // a feed scan (max over a partition column would read data files at
    // scale; the feed layout IS batch_id=N dirs)
    val maxExisting =
      if (!fs.exists(cdfPath)) -1L
      else fs.listStatus(cdfPath).map(_.getPath.getName)
        .filter(_.startsWith("batch_id="))
        .flatMap(n => n.stripPrefix("batch_id=").toLongOption)
        .foldLeft(-1L)(math.max)
    if (batchId <= maxExisting) {
      require(batchId == maxExisting,
        s"takedown batch id $batchId would overwrite feed history " +
          s"(feed high-water mark is $maxExisting) — pass an id above the mark")
      val prior = streaming.StreamingCdf.feed(spark, cdfDir)
        .filter(col("batch_id") === batchId)
      val nonDelete = prior.filter(col("change_type") =!= "delete").count()
      val foreignKeys = prior
        .select(col("old_image.doc_id").as("doc_id"))
        .join(takedowns.select(col("doc_id")).distinct(), Seq("doc_id"),
          "left_anti").count()
      require(nonDelete == 0 && foreignKeys == 0,
        s"takedown batch id $batchId collides with an existing feed batch " +
          "that is not a prior attempt of this takedown — pass a fresh id " +
          "above the high-water mark")
    }
    streaming.StreamingTombstone.processBatch(spark, takedowns, batchId,
      "doc_id", seqCol, delCol, snapshotDir, cdfDir)
    val deletes = streaming.StreamingCdf.feed(spark, cdfDir)
      .filter(org.apache.spark.sql.functions.col("batch_id") === batchId &&
        org.apache.spark.sql.functions.col("change_type") === "delete")
      .select(org.apache.spark.sql.functions.col("old_image.doc_id").as("doc_id"),
        org.apache.spark.sql.functions.col("old_image.lang").as("lang"),
        org.apache.spark.sql.functions.col("old_image.text").as("text"))
    val n = deletes.count()
    if (n > 0) streaming.StreamingRelease.retractBatch(deletes, releaseDir, batchId)
    n
  }

  /** Maintain a retractable count/sum/min/max view from a cdc1-shaped
    * change-feed stream (insert/update/delete with old + new images) —
    * see [[streaming.StreamingMv]] for the two-fence exactly-once
    * contract. Read it back with [[streaming.StreamingMv.view]].
    */
  def maintainView(feed: DataFrame, viewDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    streaming.StreamingMv.mvSink(feed, viewDir, checkpoint).start()

  /** Watermark-bounded streaming sessionization of an event stream —
    * sessions emit exactly once when they can no longer grow (see
    * [[streaming.StreamingSessionize]]; batch merge rule pinned by
    * `w17_session_window`).
    */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
      lateness: String = "1 minute"): DataFrame =
    streaming.StreamingSessionize.sessions(events, gap, lateness)

  /** Profile a stream incrementally — per-batch metadata-sized partials
    * (per-column stats + an exact distinct-key bitmap); read the
    * everything-so-far profile with
    * [[streaming.StreamingProfile.cumulative]].
    */
  def profileStream(rows: DataFrame, numCols: Seq[String], keyCol: String,
      domain: Int, statsDir: String, bitmapDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    streaming.StreamingProfile.sink(rows, numCols, keyCol, domain,
      statsDir, bitmapDir, checkpoint).start()

  /** Monitor a stream's value distribution against a frozen reference —
    * per-batch dq5-style drift bins + an alert ledger (see
    * [[streaming.StreamingDrift]]). `reference` rows and the stream both
    * carry the integer `valueCol` (caller-normalized exact units).
    */
  def monitorDrift(rows: DataFrame, reference: DataFrame, valueCol: String,
      binWidth: Long, binsDir: String, summaryDir: String,
      alertThreshold: Long,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val ref = streaming.StreamingDrift.prepare(reference, valueCol, binWidth)
    streaming.StreamingDrift.sink(rows, ref, valueCol, binsDir, summaryDir,
      alertThreshold, checkpoint).start()
  }

  /** GDPR erasure for the VECTOR index (the document takedown's sibling):
    * logically retract `vecIds` from a maintained streaming-IVF index —
    * immediate for every probe/screen — then [[purgeVectors]] for
    * physical erasure. See [[streaming.StreamingIvf.retractVectors]].
    */
  def retractVectors(indexDir: String, vecIds: DataFrame,
      retractionId: Long): Long =
    streaming.StreamingIvf.retractVectors(spark, indexDir, vecIds, retractionId)

  /** Physically erase retracted vectors' bytes (quiescent-point rewrite
    * of only the partitions that hold them). Returns (partitions
    * rewritten, rows erased).
    */
  def purgeVectors(indexDir: String): (Int, Long) =
    streaming.StreamingIvf.purgeRetracted(spark, indexDir)

  /** ONE maintenance pass over a streaming-IVF index: consolidate the
    * per-batch partitions AND physically erase retracted vectors in the
    * same rewrite (the fold drops them in flight; a near-empty sweep
    * covers what the fold didn't touch — end state identical to
    * purge-then-compact at roughly half the rewrite cost), then, when
    * `splitHotAbovePpm` > 0, split any cell the load audit flags — the
    * full cadence the streaming sinks run at their drain boundaries.
    * See [[streaming.StreamingIvf.maintenanceTick]].
    */
  def maintainVectorIndex(indexDir: String, liveBatchId: Long,
      splitHotAbovePpm: Long = 0L)
      : ((Int, Int, Int), (Int, Long), Seq[Int]) =
    streaming.StreamingIvf.maintenanceTick(spark, indexDir, liveBatchId,
      splitHotAbovePpm = splitHotAbovePpm)

  /** Maintain a live per-source PPS sample (t38's sequential-Poisson
    * scheme) over a `(doc_id, text, source)` doc stream — the maintained
    * sample always EQUALS a batch rerun over the full ingested history
    * (see [[streaming.StreamingSampler]]).
    */
  def sampleStream(docs: DataFrame, sampleDir: String, checkpoint: String,
      k: Int = streaming.StreamingSampler.defaultK)
      : org.apache.spark.sql.streaming.StreamingQuery =
    streaming.StreamingSampler.sink(docs, sampleDir, checkpoint, k).start()

  /** The current maintained PPS sample (latest snapshot partition). */
  def currentSample(sampleDir: String): DataFrame =
    streaming.StreamingSampler.sample(spark, sampleDir)

  /** Maintain live range-partition boundaries over a stream (z2's
    * streaming face — see [[streaming.StreamingPlanner]]): the md5
    * bottom-256 key sample per micro-batch; `currentBoundaries` always
    * equals the batch planner over the full ingested history.
    */
  def planStream(rows: DataFrame, value: org.apache.spark.sql.Column,
      idCols: Seq[org.apache.spark.sql.Column], planDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    streaming.StreamingPlanner.sink(rows, value, idCols, planDir, checkpoint).start()

  /** The current maintained range boundaries (one bounded read). */
  def currentBoundaries(planDir: String): Seq[Long] =
    streaming.StreamingPlanner.boundaries(spark, planDir)

  /** PRICED equi-join (the j13/j14/z3 pricers armed): price `a ⋈ b` on
    * `keys` from the exact degree profiles and payload estimates, pick
    * broadcast / plain shuffle / salted — or fail loud with the levers
    * named when the exact output size exceeds the cap — then execute.
    * Returns the joined frame (multiset-identical to the plain join under
    * every strategy) and the verdict. See [[operators.PlannedJoin]];
    * strategy choice spec-pinned, result oracle-gated via
    * `j15_planned_join`.
    */
  def plannedJoin(a: DataFrame, b: DataFrame, keys: Seq[String],
      joinType: String = "inner")
      : (DataFrame, operators.PlannedJoin.Strategy, operators.PlannedJoin.Price) =
    operators.PlannedJoin.join(a, b, keys, joinType)

  /** Cut a versioned, reproducible corpus manifest of this data dir's
    * `documents` + `embeddings` under `manifestDir/version=N` and return
    * it — see [[operators.CorpusManifest]] (verify with
    * [[verifySnapshot]]).
    */
  def snapshot(version: Long, manifestDir: String): DataFrame = {
    val m = CorpusManifest.build(version, snapshotComponents)
    CorpusManifest.write(m, manifestDir)
    CorpusManifest.read(spark, manifestDir, version)
  }

  /** Recompute a written snapshot's fingerprints against the live tables:
    * one row per component with `ok` booleans.
    */
  def verifySnapshot(version: Long, manifestDir: String): DataFrame =
    CorpusManifest.verify(
      CorpusManifest.read(spark, manifestDir, version), snapshotComponents)

  private def snapshotComponents: Seq[CorpusManifest.Component] = {
    import org.apache.spark.sql.functions._
    Seq(
      CorpusManifest.Component("documents", Tables.documents(spark, dataDir),
        Seq(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars")),
        col("doc_id")),
      CorpusManifest.Component("embeddings", Tables.embeddings(spark, dataDir),
        Seq(col("vec_id"), CorpusManifest.quantizedVec(col("embedding")), col("label")),
        col("vec_id")))
  }
}

object GraftSession {

  /** Attach to an existing session: attaches the [[Graft]] catalog where
    * it is missing ([[Graft.install]]) and scopes the facade to
    * `dataDir`'s tables.
    */
  def attach(spark: SparkSession, dataDir: String): GraftSession = {
    Graft.install(spark)
    new GraftSession(spark, dataDir)
  }

  /** Open a new local session (the one config, [[local]]) over `dataDir`. */
  def open(dataDir: String, cpus: Int = 4): GraftSession = attach(local(cpus), dataDir)

  /** The one graft session config — Bench, Verify, the tests, [[open]]
    * and every demo and tool main get their session here, so the engine
    * that is gated, benchmarked and shipped is the same one:
    * `local[cpus]` with `cpus` shuffle partitions, UTC, no UI, the
    * sort-based shuffle writer for every shuffle (`bypassMergeThreshold=0`:
    * the bypass writer opens one file per reduce partition per map task,
    * and never fires at production partition counts anyway) and the
    * whole graft catalog via [[graft.functions.GraftExtensions]]. Log
    * level WARN, except `ResolveWriteToStream`'s benign "adaptive is not
    * supported in streaming" notice, one per streaming start (ERROR).
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold", 0)
      .config("spark.sql.extensions", classOf[functions.GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN") // rewrites the root config: first
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** [[local]] with `SPARK_GRAFT_CPUS` slots, `default` when it is unset. */
  def fromEnv(default: Int): SparkSession =
    local(sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt))
}
