package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import graft.operators.IvfIndex

/** Incremental maintenance of the PERSISTED IVF index (e17 → streaming;
  * VERDICT r8 item 3). e17 builds the at-rest index once and probes it;
  * this operator keeps that index CURRENT as vectors stream in, without
  * ever rebuilding:
  *
  *  - **Frozen centroids.** The codebook is published once (from an
  *    offline [[IvfIndex.buildQuantized]] train, or trained on the first
  *    batch) and never retrained — the production IVF arrangement:
  *    retraining would move cell boundaries under the at-rest postings,
  *    forcing a full re-assign. Every batch assigns through the SAME
  *    exact integer-L2² argmin as the batch builder
  *    ([[IvfIndex.assignTo]]), which is what makes stream-maintained ≡
  *    batch-rebuilt provable row-for-row (StreamingIvfSpec).
  *  - **Postings layout** `postings/__batch=N/cell_id=X/` — the batch
  *    grain on top gives dynamic-overwrite replay idempotence and plugs
  *    into [[PartitionedIndex]]'s scan/compact machinery unchanged; the
  *    cell grain below is what probes prune on (a probe plans `cell_id
  *    IN (...)` and reads only its nprobe'd cells' directories in every
  *    batch partition).
  *  - **Compaction** folds the per-batch partitions with
  *    `partitionCols = cell_id`, so the consolidated partition keeps the
  *    `cell_id=X` layout — steady state is one consolidated partition
  *    (few files per cell) plus the newest batches. Deferred-deletion
  *    manifest semantics are inherited: a probe planned before a fold
  *    drains without error, probes planned after skip pending partitions
  *    (no duplicate rows), proven mid-compaction in StreamingIvfSpec.
  *
  * Scale: per batch, one broadcast join against k centroids and one
  * partitioned append — nothing scans history; probe cost is bounded by
  * nprobe × cell size × live partition count, and compaction bounds the
  * partition count. At 10⁹ vectors/day this is the only index-maintenance
  * shape that doesn't periodically reprocess the corpus.
  */
object StreamingIvf {

  private def postingsDir(indexDir: String) = s"$indexDir/postings"
  private def centroidsDir(indexDir: String) = s"$indexDir/centroids"

  /** Publish the frozen codebook (idempotent; write-then-rename, losers
    * of a concurrent race read the winner — same discipline as
    * [[StreamingSemDedup.centroidsFor]]). `centroids` must be the
    * quantized-Lloyd shape `(cell_id int, cq array<bigint>)`.
    */
  def publishCentroids(spark: SparkSession, indexDir: String,
      centroids: DataFrame): Unit = {
    val dir = centroidsDir(indexDir)
    val (fs, root) = PartitionedIndex.fsFor(spark, dir)
    if (fs.exists(root)) return
    val tmp = new Path(dir + ".tmp-" + java.util.UUID.randomUUID().toString)
    centroids.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val renamed = fs.rename(tmp, root)
    val nested = new Path(root, tmp.getName)
    if (!renamed || fs.exists(nested)) {
      fs.delete(nested, true)
      fs.delete(tmp, true)
    }
  }

  private def codebookDir(indexDir: String) = s"$indexDir/codebook"

  /** Current codebook version under `codebook/` (−1 = none; the index is
    * still on its original frozen `centroids/` publish). `_CURRENT`
    * pointer, falling back to the highest complete `v%05d` dir — the
    * BloomIndex reader-atomic versioning pattern.
    */
  private def currentCodebookVersion(
      fs: org.apache.hadoop.fs.FileSystem, indexDir: String): Int = {
    val ptr = new Path(codebookDir(indexDir), "_CURRENT")
    if (fs.exists(ptr)) {
      val in = fs.open(ptr)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim.toInt
      finally in.close()
    } else {
      val root = new Path(codebookDir(indexDir))
      if (!fs.exists(root)) -1
      else fs.listStatus(root).map(_.getPath.getName)
        .filter(_.matches("v\\d{5}")).map(_.drop(1).toInt)
        .foldLeft(-1)(math.max)
    }
  }

  private def publishCodebookVersion(spark: SparkSession, indexDir: String,
      cb: DataFrame): Unit = {
    val (fs, _) = PartitionedIndex.fsFor(spark, codebookDir(indexDir))
    val next = currentCodebookVersion(fs, indexDir) + 1
    cb.coalesce(1).sortWithinPartitions("cell_id")
      .write.mode("overwrite").parquet(f"${codebookDir(indexDir)}/v$next%05d")
    val ptr = new Path(codebookDir(indexDir), "_CURRENT")
    val tmp = new Path(codebookDir(indexDir), "_CURRENT.tmp")
    val out = fs.create(tmp, true)
    try out.write(next.toString.getBytes("UTF-8")) finally out.close()
    fs.delete(ptr, false)
    if (!fs.rename(tmp, ptr))
      throw new IllegalStateException(s"codebook pointer swing failed: $tmp -> $ptr")
    // retain exactly one prior version for in-flight readers
    fs.listStatus(new Path(codebookDir(indexDir))).map(_.getPath)
      .filter(p => p.getName.matches("v\\d{5}") && p.getName.drop(1).toInt < next - 1)
      .foreach(fs.delete(_, true))
  }

  /** The LIVE codebook: the newest `codebook/` version when one exists
    * (published by [[splitCell]]), else the original frozen publish.
    */
  def centroids(spark: SparkSession, indexDir: String): DataFrame = {
    val (fs, root) = PartitionedIndex.fsFor(spark, centroidsDir(indexDir))
    val v = currentCodebookVersion(fs, indexDir)
    if (v >= 0) spark.read.parquet(f"${codebookDir(indexDir)}/v$v%05d")
    else {
      require(fs.exists(root),
        s"no frozen centroids at $root — publishCentroids (or ingest a " +
          "first batch with trainOnFirstBatch) before ingesting")
      spark.read.parquet(root.toString)
    }
  }

  /** Ingest one micro-batch of `(vec_id, embedding, label)` rows: assign
    * to the frozen centroids, append to `postings/__batch=N/cell_id=X`
    * (dynamic overwrite of only this batch → replay-idempotent). If no
    * codebook exists yet and `trainOnFirstBatch` is set, the quantized
    * Lloyd trains on this batch and publishes — deterministic, so a
    * replayed first batch converges.
    */
  def ingestBatch(batch: DataFrame, indexDir: String, batchId: Long,
      trainOnFirstBatch: Boolean = false, k: Int = 16): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return
    val (fs, cRoot) = PartitionedIndex.fsFor(spark, centroidsDir(indexDir))
    if (!fs.exists(cRoot)) {
      require(trainOnFirstBatch,
        s"no frozen centroids at $cRoot and trainOnFirstBatch=false")
      publishCentroids(spark, indexDir,
        IvfIndex.buildQuantized(spark, batch, k = k).centroids)
    }
    IvfIndex.assignTo(batch, centroids(spark, indexDir))
      .withColumn("__batch", lit(batchId))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy("__batch", "cell_id")
      .parquet(postingsDir(indexDir))
  }

  /** Pending-aware scan of the live postings (all cells). RAW: includes
    * logically-retracted rows — maintenance callers (compaction, split,
    * purge) need them; query paths go through [[livePostings]].
    */
  def scanPostings(spark: SparkSession, indexDir: String): Option[DataFrame] =
    PartitionedIndex.scan(spark, postingsDir(indexDir))

  private def retractedDir(indexDir: String) = s"$indexDir/retracted"

  /** RETRACT vectors from the index (the GDPR-erasure path reaching the
    * VECTOR store, completing the takedown family: documents leave
    * through [[StreamingTombstone]]+[[StreamingRelease.retractBatch]],
    * their embeddings leave through here). Two-phase like the document
    * path:
    *  1. this call — LOGICAL erasure, immediate: the retraction set lands
    *     atomically (write-then-rename) under `retracted/r=<id>` and
    *     every query path ([[probe]], [[screenBatch]]) anti-joins it from
    *     that moment;
    *  2. [[purgeRetracted]] — PHYSICAL erasure at a quiescent point: the
    *     embedding bytes leave disk.
    * The retraction set itself holds only vec_ids (pseudonymous keys, no
    * payload — the same retained-tombstone practice as the document
    * store, where the key must outlive the data to fence redeliveries: a
    * re-ingested copy of a retracted vector stays invisible until the
    * retraction is explicitly vacuumed).
    *
    * Idempotent per `retractionId` (same id + same ids → same bytes);
    * a torn write is invisible (rename is the commit). Returns the
    * distinct ids recorded.
    */
  def retractVectors(spark: SparkSession, indexDir: String,
      vecIds: DataFrame, retractionId: Long): Long = {
    val dir = s"${retractedDir(indexDir)}/r=$retractionId"
    val (fs, root) = PartitionedIndex.fsFor(spark, dir)
    val distinct = vecIds.select(col("vec_id").cast("long").as("vec_id"))
      .distinct().localCheckpoint(true)
    val n = distinct.count()
    if (fs.exists(root)) {
      // Replay of an already-committed retraction: the prior rename WAS
      // the commit, so the set on disk is complete — verify it matches
      // and keep it. The former delete-then-rename republish opened a
      // window with NO retraction set at `root`, during which a
      // concurrent probe's anti-join briefly saw retracted vectors
      // again. A replay carrying a DIFFERENT id set is a contract
      // violation (retractionId is the idempotency key) — fail loud
      // rather than silently dropping either set.
      val prior = spark.read.parquet(root.toString)
        .select(col("vec_id").cast("long").as("vec_id"))
      require(prior.exceptAll(distinct).isEmpty && distinct.exceptAll(prior).isEmpty,
        s"retractionId $retractionId replayed with a different vec_id set " +
          s"than its committed publish at $root")
      return n
    }
    val tmp = new Path(dir + ".tmp-" + java.util.UUID.randomUUID().toString)
    distinct.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    if (!fs.rename(tmp, root)) {
      // lost a concurrent race: the winner's set is committed. Verify it
      // NOW with the same set-equality contract the replay path enforces
      // — two concurrent calls carrying the same retractionId but
      // DIFFERENT vec_id sets would otherwise silently drop the loser's
      // set, caught only if that caller happened to replay later (r12
      // ADVICE: the fail-loud contract must hold on both paths).
      fs.delete(tmp, true)
      require(fs.exists(root), s"retraction publish failed: $tmp -> $root")
      val winner = spark.read.parquet(root.toString)
        .select(col("vec_id").cast("long").as("vec_id"))
      require(winner.exceptAll(distinct).isEmpty && distinct.exceptAll(winner).isEmpty,
        s"retractionId $retractionId raced with a concurrent call carrying " +
          s"a different vec_id set — the committed publish at $root does " +
          "not cover this call's ids")
    }
    n
  }

  /** The union of all recorded retraction sets (distinct vec_ids), or
    * None when nothing was ever retracted. Bounded by erasure-request
    * volume — broadcast-sized by nature.
    */
  def retractedIds(spark: SparkSession, indexDir: String): Option[DataFrame] = {
    val (fs, root) = PartitionedIndex.fsFor(spark, retractedDir(indexDir))
    if (!fs.exists(root)) return None
    val dirs = fs.listStatus(root).filter(s => s.isDirectory &&
      s.getPath.getName.startsWith("r="))
    if (dirs.isEmpty) None
    else Some(spark.read.parquet(dirs.map(_.getPath.toString).toIndexedSeq: _*)
      .select(col("vec_id")).distinct())
  }

  /** The queryable postings: [[scanPostings]] minus retracted vectors
    * (broadcast anti-join — the retraction set is erasure-request-sized).
    */
  def livePostings(spark: SparkSession, indexDir: String): Option[DataFrame] =
    scanPostings(spark, indexDir).map { all =>
      retractedIds(spark, indexDir) match {
        case None => all
        case Some(r) => all.join(broadcast(r), Seq("vec_id"), "left_anti")
      }
    }

  /** PHYSICAL erasure of retracted rows: rewrite exactly the
    * `__batch=N/cell_id=C` partitions that still hold a retracted
    * vec_id, dropping those rows (a partition left empty is deleted,
    * as is a batch dir left cell-less — readers never plan an empty
    * dir). Quiescent-point operation like [[splitCell]]/[[compactIndex]].
    * Returns (partitions rewritten, rows erased).
    */
  def purgeRetracted(spark: SparkSession, indexDir: String): (Int, Long) = {
    val retracted = retractedIds(spark, indexDir).getOrElse(return (0, 0L))
    // Settle any deferred deletion FIRST. scanPostings skips partitions a
    // compaction listed in the pending manifest — but those
    // folded-but-undeleted dirs still hold every retracted vector's bytes,
    // and a purge that rewrites only what it scans would report complete
    // physical erasure while the embeddings sit on disk until the NEXT
    // fold (forever, if none runs). Completing the deletion here also
    // means no live manifest can exist below: if this purge empties and
    // deletes the consolidated partition, it can never be a manifest's
    // fold target (deleting THAT would turn the pending list inert and
    // resurface the folded originals — with the retracted rows in them).
    // Purge is a quiescent-point operation like compactIndex, so spending
    // the deferred-deletion grace period here is within its contract.
    locally {
      val (fs, pRoot) = PartitionedIndex.fsFor(spark, postingsDir(indexDir))
      if (fs.exists(pRoot)) PartitionedIndex.settlePending(fs, pRoot)
    }
    val all = scanPostings(spark, indexDir).getOrElse(return (0, 0L))
    // __batch/cell_id are inferred partition columns (INT when small) —
    // cast for a stable driver-side read
    val hit = all.join(broadcast(retracted), Seq("vec_id"), "left_semi")
      .groupBy(col("__batch").cast("long").as("__batch"),
        col("cell_id").cast("int").as("cell_id"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2))).toMap
    if (hit.isEmpty) return (0, 0L)
    val erased = hit.values.sum
    val (fs, _) = PartitionedIndex.fsFor(spark, postingsDir(indexDir))
    // ONE job rewrites every touched partition via dynamic overwrite (a
    // per-partition loop was measured at ~0.3 s of job latency per
    // partition — worst-case-locality purges touch hundreds); partitions
    // the filter leaves EMPTY are not rewritten by a dynamic overwrite
    // (no rows → no replacement), so they are deleted explicitly below.
    val hitDirs = hit.keys.map { case (b, c) =>
      s"${postingsDir(indexDir)}/__batch=$b/cell_id=$c"
    }.toIndexedSeq
    val kept = spark.read.option("basePath", postingsDir(indexDir))
      .parquet(hitDirs: _*)
      .join(broadcast(retracted), Seq("vec_id"), "left_anti")
      .localCheckpoint(true) // materialize BEFORE overwriting the source
    val survivors = kept
      .groupBy(col("__batch").cast("long").as("__batch"),
        col("cell_id").cast("int").as("cell_id"))
      .agg(count(lit(1)))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    if (survivors.nonEmpty)
      kept.write
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .partitionBy("__batch", "cell_id")
        .parquet(postingsDir(indexDir))
    (hit.keySet -- survivors).foreach { case (b, c) =>
      fs.delete(new Path(s"${postingsDir(indexDir)}/__batch=$b/cell_id=$c"), true)
      val bDir = new Path(s"${postingsDir(indexDir)}/__batch=$b")
      // cell-less = empty: a consolidated partition keeps a _SUCCESS
      // marker from its publish, which must not pin a dataless dir
      if (fs.exists(bDir) && !fs.listStatus(bDir).exists(st =>
          st.isDirectory && st.getPath.getName.startsWith("cell_id=")))
        fs.delete(bDir, true)
    }
    (hit.size, erased)
  }

  /** Drop retraction sets with id ≤ `horizon` — ONLY safe once their ids
    * are physically gone AND can no longer be redelivered (the same
    * redelivery-horizon contract as [[StreamingTombstone.vacuum]]);
    * refuses while any posting still carries one of the ids.
    */
  def vacuumRetractions(spark: SparkSession, indexDir: String, horizon: Long): Int = {
    val (fs, root) = PartitionedIndex.fsFor(spark, retractedDir(indexDir))
    if (!fs.exists(root)) return 0
    val victims = fs.listStatus(root).filter(s => s.isDirectory &&
      s.getPath.getName.startsWith("r=") &&
      s.getPath.getName.stripPrefix("r=").toLong <= horizon)
    if (victims.isEmpty) return 0
    val victimIds = spark.read
      .parquet(victims.map(_.getPath.toString).toIndexedSeq: _*)
      .select(col("vec_id")).distinct()
    // The guard reads the RAW on-disk partitions, INCLUDING any listed in
    // a pending-delete manifest: a pending-skipping scan would report 0
    // remaining while the folded-but-undeleted dirs still hold the bytes,
    // and vacuuming then makes the leak permanent (nothing records the
    // ids any more). Over-reading can only refuse more — duplicates
    // between pending dirs and their fold target don't matter to a
    // nonzero test — and a refusal names purgeRetracted, whose preamble
    // settles the pending set before erasing.
    val (pFs, pRoot) = PartitionedIndex.fsFor(spark, postingsDir(indexDir))
    def hasParquet(p: Path): Boolean = {
      val it = pFs.listFiles(p, true)
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) return true
      false
    }
    val rawDirs = if (!pFs.exists(pRoot)) Array.empty[String]
      else pFs.listStatus(pRoot).filter(s => s.isDirectory &&
          s.getPath.getName.startsWith("__batch=") && hasParquet(s.getPath))
        .map(_.getPath.toString)
    val remaining = if (rawDirs.isEmpty) 0L
      else spark.read.option("basePath", postingsDir(indexDir))
        .parquet(rawDirs.toIndexedSeq: _*)
        .join(broadcast(victimIds), Seq("vec_id"), "left_semi").count()
    require(remaining == 0,
      s"$remaining postings still carry retracted ids ≤ $horizon — " +
        "purgeRetracted before vacuuming the retraction sets")
    victims.foreach(v => fs.delete(v.getPath, true))
    victims.length
  }

  /** Top-`topK` cosine neighbors per probe against the maintained index —
    * the e17 probe shape over the streaming layout: rank cells by exact
    * integer centroid distance, push the probed cell set as a literal
    * `isin` (planning-time pruning of the `cell_id=X` dirs), exact cosine
    * rerank in-cell. `excludeBatch` lets a caller screen a batch against
    * history only (the SemDeDup-style intake shape).
    */
  def probe(spark: SparkSession, indexDir: String, probes: DataFrame,
      nprobe: Int = 4, topK: Int = 3, excludeBatch: Option[Long] = None): DataFrame = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "query_id bigint, neighbor_id bigint, neighbor_label int, " +
          "cosine double, rank int"))
    livePostings(spark, indexDir) match {
      case None => empty
      case Some(all) =>
        val cents = centroids(spark, indexDir)
        val cells = IvfIndex.probeCells(probes, cents, nprobe)
        val cellIds = cells.select(col("cell_id")).distinct()
          .collect().map(_.getInt(0)).toIndexedSeq // ≤ k rows — bounded collect
        val postings = all.filter(col("cell_id").isin(cellIds: _*))
        val hist = excludeBatch.fold(postings)(b =>
          postings.filter(col("__batch") =!= b))
        val withQ = cells.join(
          broadcast(probes.select(col("vec_id").as("query_id"),
            col("embedding").as("q_emb"))), Seq("query_id"))
        val qNorm = sqrt(call_function("vec_dot", col("q_emb"), col("q_emb")))
        val cNorm = sqrt(call_function("vec_dot", col("embedding"), col("embedding")))
        withQ.join(hist, Seq("cell_id"))
          .filter(col("query_id") =!= col("vec_id"))
          .select(col("query_id"),
            col("vec_id").as("neighbor_id"), col("label").as("neighbor_label"),
            (call_function("vec_dot", col("q_emb"), col("embedding"))
              / (qNorm * cNorm)).as("cosine"))
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("query_id")).orderBy(desc("cosine"), col("neighbor_id"))))
          .filter(col("rank") <= topK)
    }
  }

  /** Screen one batch of `(vec_id, embedding)` rows against the
    * maintained index plus lower-id batchmates, then ingest the batch —
    * the [[StreamingSemDedup]] admission verdict re-expressed over the
    * IVF postings layout, which is what a 100 TB intake actually wants:
    * the history side of the screen reads ONLY the probed `cell_id=X`
    * directories (planning-time pruning via a literal `isin` over ≤ k
    * cell ids), not the whole index, and the same at-rest index serves
    * both the intake screen and ad-hoc [[probe]]s.
    *
    * Candidate rule (spec-pinned in StreamingIvfSpec): vector `b` is a
    * candidate for `a` iff `b`'s ASSIGNED cell is among `a`'s `nprobe`
    * nearest cells (by the exact integer centroid distance both the
    * assigner and [[IvfIndex.probeCells]] use, identical tie-break) and
    * `b` precedes `a` — history, or a lower-id batchmate. The verdict is
    * exact cosine within candidates: `is_near_dup = ∃ b: cos ≥ τ`,
    * `matched_vec` the smallest qualifying id (batch-SemDeDup's
    * lower-id-survives rule). With `nprobe = k` this is exactly the
    * brute-force screen; smaller `nprobe` trades recall for probe cost,
    * never precision (every flagged pair's cosine is exact).
    *
    * Replay-idempotent like [[ingestBatch]]: the postings append is a
    * dynamic overwrite of `__batch=N` and the history scan reads only
    * STRICTLY EARLIER batches, so a crashed-and-replayed batch converges
    * to its original verdicts even after later batches have landed.
    */
  def screenBatch(batch: DataFrame, indexDir: String, batchId: Long,
      nprobe: Int = 2, tau: Double = 0.40,
      trainOnFirstBatch: Boolean = true, k: Int = 16): DataFrame =
    screenBatchWithPairs(batch, indexDir, batchId, nprobe, tau,
      trainOnFirstBatch, k)._1

  /** [[screenBatch]] plus the UN-COLLAPSED qualifying pairs
    * `(doc_a, doc_b, cosine)` (doc_a = the new vector; doc_b a history
    * vector or an earlier batchmate). The verdict keeps only the smallest
    * match per vector; consumers that need the full match graph —
    * [[StreamingSplit]]'s bridge detection in the composed intake — read
    * the pairs. Same single-materialization discipline as
    * [[StreamingNearDup.screenBatchWithPairs]]: the pairs are
    * localCheckpointed once and the verdicts derive from them.
    */
  def screenBatchWithPairs(batch: DataFrame, indexDir: String, batchId: Long,
      nprobe: Int = 2, tau: Double = 0.40,
      trainOnFirstBatch: Boolean = true, k: Int = 16): (DataFrame, DataFrame) = {
    val spark = batch.sparkSession
    if (batch.isEmpty)
      return (spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "vec_id bigint, is_near_dup boolean, matched_vec bigint, cosine double")),
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_a bigint, doc_b bigint, cosine double")))
    val withLabel =
      if (batch.columns.contains("label")) batch.select("vec_id", "embedding", "label")
      else batch.select(col("vec_id"), col("embedding")).withColumn("label", lit(0))
    val (fs, cRoot) = PartitionedIndex.fsFor(spark, centroidsDir(indexDir))
    if (!fs.exists(cRoot)) {
      require(trainOnFirstBatch,
        s"no frozen centroids at $cRoot and trainOnFirstBatch=false")
      publishCentroids(spark, indexDir,
        IvfIndex.buildQuantized(spark, withLabel, k = k).centroids)
    }
    val cents = centroids(spark, indexDir)
    val fresh = IvfIndex.assignTo(withLabel, cents).cache()

    // a's probe cells (≤ nprobe per vector; rank-1 == a's assigned cell —
    // probeCells and assignTo share the (d2, cell_id) tie-break)
    val cells = IvfIndex.probeCells(withLabel, cents, nprobe)
    val cellIds = cells.select(col("cell_id")).distinct()
      .collect().map(_.getInt(0)).toIndexedSeq // ≤ k rows — bounded collect
    // history restricted to probed cells: the literal isin prunes the
    // cell_id=X directories at planning time. History is STRICTLY EARLIER
    // batches — a replayed batch sees neither its own half-appended rows
    // nor later batches' (consolidated partitions carry negative ids)
    val hist = livePostings(spark, indexDir)
      .map(_.filter(col("__batch") < batchId && col("cell_id").isin(cellIds: _*)))
      .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "vec_id bigint, cell_id int, embedding array<float>, label int, __batch bigint")))

    val q = cells.join(
      fresh.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        sqrt(call_function("vec_dot", col("embedding"), col("embedding"))).as("q_n")),
      Seq("query_id"))
    def bSide(df: DataFrame): DataFrame =
      df.select(col("cell_id"), col("vec_id").as("b_id"), col("embedding").as("b_e"),
        sqrt(call_function("vec_dot", col("embedding"), col("embedding"))).as("b_n"))
    // each (a, b) pair appears at most once per source: b carries exactly
    // one assigned cell, and hist/self are disjoint (hist excludes batchId)
    val candHist = q.join(bSide(hist), Seq("cell_id"))
    val candSelf = q.join(bSide(fresh), Seq("cell_id"))
      .filter(col("b_id") < col("query_id"))
    // the zero-norm guard keeps 0/0 = NaN (which Spark orders above every
    // double) from matching τ — same rule as StreamingSemDedup
    // qualifying pairs, materialized ONCE: the verdict min_by and any
    // pair consumer (split bridge detection) read this checkpoint
    // instead of re-running the probe joins
    val pairs = candHist.unionByName(candSelf)
      .filter(col("q_n") > 0 && col("b_n") > 0)
      .select(col("query_id").as("doc_a"),
        col("b_id").as("doc_b"), (call_function("vec_dot", col("q_emb"), col("b_e"))
          / (col("q_n") * col("b_n"))).as("cosine"))
      .filter(col("cosine") >= tau)
      .localCheckpoint(true)
    val matches = pairs
      .select(col("doc_a").as("query_id"), col("doc_b").as("b_id"),
        col("cosine").as("cos"))
      .groupBy(col("query_id"))
      .agg(min_by(struct(col("b_id").as("matched_vec"), col("cos")), col("b_id")).as("m"))
      .select(col("query_id").as("vec_id"), col("m.matched_vec").as("matched_vec"),
        col("m.cos").as("cosine"))

    // publish this batch's postings (dynamic overwrite of ONLY this batch),
    // reusing the cached assignment
    fresh.withColumn("__batch", lit(batchId))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy("__batch", "cell_id")
      .parquet(postingsDir(indexDir))

    // one verdict per input vector; localCheckpoint materializes while the
    // assignment cache is hot
    val verdicts = batch.select(col("vec_id")).distinct()
      .join(matches, Seq("vec_id"), "left")
      .select(col("vec_id"), col("matched_vec").isNotNull.as("is_near_dup"),
        col("matched_vec"), col("cosine"))
      .localCheckpoint(true)
    fresh.unpersist()
    (verdicts, pairs)
  }

  /** Maintenance fold: consolidate historical `__batch=N` partitions,
    * PRESERVING the `cell_id=X` layout inside the consolidated partition
    * (the probe's pruning key). Safe concurrently with a probe — deferred
    * deletion, see [[PartitionedIndex.compact]].
    */
  def compactIndex(spark: SparkSession, indexDir: String, liveBatchId: Long,
      targetFileBytes: Long = 128L * 1024 * 1024,
      fullRefoldAt: Int = 16,
      foldFilter: DataFrame => DataFrame = identity): (Int, Int, Int) = {
    // Codebook-aware duplicate resolution: a crash inside [[splitCell]]
    // (between the additive sub-cell write and the codebook publish, or a
    // replayed pre-split batch) leaves a vec_id under BOTH the retired
    // cell_id and a new sub-cell. An arbitrary-keep dedup could retain the
    // copy whose cell_id the live codebook no longer plans — the vector
    // would survive on disk but be invisible to every pruned probe
    // (silent recall loss, breaking the nprobe=|codebook| lossless gate).
    // Prefer the copy whose cell_id IS in the live codebook; tiebreak on
    // cell_id so the keep is deterministic even among live copies. ≤ k
    // cell ids, collected once — a constant-size literal in the filter.
    val liveCells: Set[Int] =
      try centroids(spark, indexDir).select(col("cell_id"))
        .collect().map(_.getInt(0)).toSet
      catch { case _: IllegalArgumentException => Set.empty }
    val order = if (liveCells.isEmpty) Nil
      else Seq(when(col("cell_id").isInCollection(liveCells), 0).otherwise(1),
        col("cell_id"))
    PartitionedIndex.compact(spark, postingsDir(indexDir), liveBatchId,
      dedupKeys = Seq("vec_id"),
      targetFileBytes = targetFileBytes, fullRefoldAt = fullRefoldAt,
      partitionCols = Seq("cell_id"), dedupOrder = order,
      foldFilter = foldFilter)
  }

  /** RETRACTION-AWARE MAINTENANCE: erase and consolidate in ONE pass.
    * [[compactIndex]]'s fold drops logically-retracted rows while it
    * rewrites (the [[PartitionedIndex.compact]] foldFilter hook), so the
    * folded mass never pays a second purge rewrite; [[purgeRetracted]]
    * then sweeps only what the fold did not touch — typically just the
    * live batch and any consolidated partition below the refold
    * threshold. Compared to the purge-then-compact sequence (which
    * rewrites every touched partition twice), the common maintenance
    * pass is one rewrite of the folded mass plus a near-empty sweep.
    *
    * End state is IDENTICAL to purge-then-compact (spec-pinned): same
    * probe results, zero retracted bytes on raw disk, vacuum-ready.
    * Quiescent-point operation like both parts.
    */
  def compactAndPurge(spark: SparkSession, indexDir: String, liveBatchId: Long,
      targetFileBytes: Long = 128L * 1024 * 1024,
      fullRefoldAt: Int = 16): ((Int, Int, Int), (Int, Long)) = {
    val filter: DataFrame => DataFrame = retractedIds(spark, indexDir) match {
      case None => identity
      case Some(r) => df => df.join(broadcast(r), Seq("vec_id"), "left_anti")
    }
    val folded = compactIndex(spark, indexDir, liveBatchId,
      targetFileBytes, fullRefoldAt, foldFilter = filter)
    val purged = purgeRetracted(spark, indexDir)
    // a fold whose input was entirely retracted leaves a cell-less
    // consolidated dir (only the publish's _SUCCESS) — sweep it so
    // readers never plan a dataless partition
    val (fs, pRoot) = PartitionedIndex.fsFor(spark, postingsDir(indexDir))
    if (fs.exists(pRoot))
      fs.listStatus(pRoot).filter(s => s.isDirectory &&
          s.getPath.getName.startsWith("__batch=") &&
          !fs.listStatus(s.getPath).exists(st =>
            st.isDirectory && st.getPath.getName.startsWith("cell_id=")))
        .foreach(s => fs.delete(s.getPath, true))
    (folded, purged)
  }

  /** THE COMPOSED MAINTENANCE TICK — everything a long-running index
    * owes its operators, in the one order that is safe and cheap:
    *
    *  1. [[compactAndPurge]] — consolidate historical batch partitions
    *     AND physically erase retracted vectors in the same rewrite
    *     (one fold instead of purge-then-compact's two);
    *  2. auto-split (`splitHotAbovePpm` > 0) — [[hotCells]] over the
    *     now-purged postings nominates cells past the load threshold and
    *     [[splitCell]] refines each. Splitting AFTER the purge is
    *     deliberate: the load signal never counts retracted mass, and
    *     the split never rewrites bytes the purge was about to drop.
    *
    * Crash-safe at every boundary: a replayed tick re-runs
    * compactAndPurge (fold of already-folded partitions is a no-op;
    * purge of already-purged ids finds no hits), and a tick replayed
    * over a crashed split heals through splitCell's own roll-forward —
    * with the mid-split-orphan case swept first by the fold's
    * codebook-aware dedup, so hotCells never re-nominates a retired id.
    * Quiescent-point operation like its parts; the streaming sinks run
    * it exactly at their drain boundaries.
    *
    * Returns (fold stats, purge stats, new cell ids from splits).
    */
  def maintenanceTick(spark: SparkSession, indexDir: String, liveBatchId: Long,
      targetFileBytes: Long = 128L * 1024 * 1024,
      fullRefoldAt: Int = 16,
      splitHotAbovePpm: Long = 0L): ((Int, Int, Int), (Int, Long), Seq[Int]) = {
    val (folded, purged) = compactAndPurge(spark, indexDir, liveBatchId,
      targetFileBytes, fullRefoldAt)
    val newCells =
      if (splitHotAbovePpm > 0L)
        hotCells(spark, indexDir, splitHotAbovePpm)
          .flatMap(c => splitCell(spark, indexDir, c))
      else Seq.empty
    (folded, purged, newCells)
  }

  /** Cells whose postings exceed `thresholdPpm` of the perfectly-balanced
    * share (10⁶ = exactly N/k — the e33 `load_ppm` arithmetic): the
    * split-policy input. Probe latency at nprobe cells follows the
    * LARGEST probed cell, so a cell at 4–8× the balanced share is the
    * signal to [[splitCell]] it. ≤ k rows collected.
    */
  def hotCells(spark: SparkSession, indexDir: String,
      thresholdPpm: Long = 4000000L): Seq[Int] =
    // load signal over the QUERYABLE rows: retracted-but-unpurged postings
    // must not nominate a cell for splitting (probes never read them)
    livePostings(spark, indexDir) match {
      case None => Seq.empty
      case Some(all) =>
        val sizes = all.groupBy(col("cell_id")).agg(count(lit(1)).as("n"))
        // load_ppm test in DECIMAL(38,0): n·nc·10⁶ overflows int64 once a
        // cell holds ~10¹⁰ postings with thousands of cells — exactly the
        // regime this audit exists for (the same overflow discipline as
        // e34's HUGEINT accumulation). Cross-multiplied (n·nc·10⁶ ≥
        // threshold·tot ⟺ the integer-div load_ppm ≥ threshold, since the
        // threshold is integral) so no division rounds.
        sizes.crossJoin(broadcast(sizes.agg(sum(col("n")).as("tot"),
            count(lit(1)).as("nc"))))
          .filter(expr("CAST(n AS DECIMAL(38,0)) * nc * 1000000") >=
            expr(s"CAST($thresholdPpm AS DECIMAL(38,0)) * tot"))
          .select(col("cell_id")).collect().map(_.getInt(0)).toSeq
    }

  /** SPLIT a hot cell — the maintenance move when ingest skew outgrows
    * the frozen codebook (the e33/[[hotCells]] signal): cell `cell` is
    * RETIRED and its postings strictly refined into `splitInto` new
    * sub-cells (ids above the current max), whose centroids train on the
    * cell's own members with the same deterministic quantized Lloyd as
    * every other codebook in the engine. The codebook stays FLAT —
    * [[probe]], [[screenBatch]] and [[ingestBatch]] pick the new version
    * up through [[centroids]] with zero code-path changes — and the
    * at-rest invariant is preserved: only this cell's rows move, every
    * other posting byte stays put.
    *
    * Sequencing (roll-forward crash contract):
    *  1. train sub-centroids, write the refined postings ADDITIVELY
    *     (`cell_id=new` dirs inside each partition that held the cell);
    *  2. publish the new codebook version (pointer swing — the commit
    *     point: probes stop planning the retired id, so its dirs go
    *     unread even before they are removed);
    *  3. drop the retired cell's dirs.
    * A crash before 2 leaves unreferenced new dirs (duplicates visible
    * only to full scans, and `compactIndex`'s codebook-aware vec_id dedup
    * heals them — it keeps the copy under a LIVE cell_id, never the
    * orphan); re-running splitCell completes the job (the deterministic
    * Lloyd re-derives the same sub-codebook, so the dynamic overwrite
    * rewrites the same dirs with identical content). A crash BETWEEN 2
    * and 3 leaves retired dirs the published codebook can no longer
    * plan: re-running splitCell on the same cell detects that shape
    * (cell absent from the codebook, `cell_id=<cell>` dirs still on
    * disk) and ROLLS FORWARD — finishes step 3 and returns empty, since
    * the children are already live. Run at a QUIESCENT point
    * (between drains, post-compaction) like any OPTIMIZE-class rewrite;
    * a replay of a pre-split batch re-assigns under the new codebook, so
    * follow such a replay with [[compactIndex]] to dedup strays.
    *
    * Recall note: refinement keeps members inside the retired cell's
    * children even when the full-codebook argmin would prefer another
    * cell, so the candidate rule stays "b's PLACED cell among a's nprobe
    * nearest"; at `nprobe = |codebook|` the screen/probe remain exactly
    * brute force (the lossless gate — spec-pinned).
    *
    * Returns the new cell ids.
    */
  def splitCell(spark: SparkSession, indexDir: String, cell: Int,
      splitInto: Int = 2): Seq[Int] = {
    require(splitInto >= 2, s"splitInto must be >= 2, got $splitInto")
    val cents = centroids(spark, indexDir)
    def retiredDirs(): Array[Path] = {
      val (fs, pRoot) = PartitionedIndex.fsFor(spark, postingsDir(indexDir))
      if (!fs.exists(pRoot)) Array.empty
      else fs.listStatus(pRoot).map(_.getPath)
        .filter(_.getName.startsWith("__batch="))
        .map(p => new Path(p, s"cell_id=$cell"))
        .filter(fs.exists)
    }
    if (cents.filter(col("cell_id") === cell).count() != 1) {
      // Roll-forward: a crash between step 2 (codebook publish) and step
      // 3 (dir drop) leaves the cell OUT of the codebook with its dirs
      // still on disk. Finish step 3 here; the sub-cells are already
      // live, so there is nothing to train or return. A cell absent from
      // BOTH the codebook and the dirs is genuine misuse — fail loud.
      val leftover = retiredDirs()
      require(leftover.nonEmpty,
        s"cell $cell is not in the live codebook (already split, or never existed)")
      val (fs, _) = PartitionedIndex.fsFor(spark, postingsDir(indexDir))
      leftover.foreach(fs.delete(_, true))
      return Seq.empty
    }
    val all = scanPostings(spark, indexDir).getOrElse(
      throw new IllegalStateException(s"no postings at $indexDir to split"))
    val members = all.filter(col("cell_id") === cell)
      .select(col("vec_id"), col("embedding"), col("label"), col("__batch"))
      .localCheckpoint(true) // pin BEFORE the dirs move under the plan
    val n = members.count()
    require(n >= splitInto.toLong,
      s"cell $cell holds $n rows — nothing to split into $splitInto")
    val maxId = cents.agg(max(col("cell_id"))).head().getInt(0)
    // deterministic sub-codebook on the cell's own members, ids remapped
    // above the current max (the retired id is never reused). Farthest-
    // first seeding ([[IvfIndex.buildQuantizedSpread]]): md5-random seeds
    // inside one tight cell sit a noise-width apart and can converge
    // arbitrarily lopsided (a measured 94/6 split on a 146k-row cell);
    // diameter-spanning seeds cut along the cell's widest direction.
    val sub = IvfIndex.buildQuantizedSpread(spark,
        members.select(col("vec_id"), col("embedding"), col("label")),
        k = splitInto).centroids
      .select((col("cell_id") + lit(maxId + 1)).cast("int").as("cell_id"), col("cq"))
      .localCheckpoint(true)
    val newIds = sub.select(col("cell_id")).collect().map(_.getInt(0)).toSeq

    // 1. refined postings, additively — each row keeps its __batch so
    // the partition grain (replay/compaction semantics) is untouched
    IvfIndex.assignTo(members.select(col("vec_id"), col("embedding"), col("label")), sub)
      .join(members.select(col("vec_id"), col("__batch")), Seq("vec_id"))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy("__batch", "cell_id")
      .parquet(postingsDir(indexDir))

    // 2. commit: the retired id leaves the codebook
    publishCodebookVersion(spark, indexDir,
      cents.filter(col("cell_id") =!= cell).unionByName(sub))

    // 3. drop the retired cell's dirs (probes already can't plan them)
    val (fs, _) = PartitionedIndex.fsFor(spark, postingsDir(indexDir))
    retiredDirs().foreach(fs.delete(_, true))
    newIds
  }

  /** Streaming sink: maintain the index from a `(vec_id, embedding,
    * label)` stream, running the composed [[maintenanceTick]] every
    * `compactEvery` batches — consolidation AND physical erasure of any
    * retractions landed since the last tick in one fold (when no
    * retraction exists the tick degrades to the plain compaction).
    *
    * `splitHotAbovePpm` > 0 arms the AUTO-SPLIT policy: at every
    * cadence boundary — a drain boundary, i.e. exactly the quiescent
    * point [[splitCell]]'s contract asks for — cells the load audit
    * flags above the threshold are split. Run per cadence, this is the
    * `hotCells → splitCell` maintenance LOOP the r11 rehearsal priced
    * (SCALE.md: one round only separates signal from stragglers; the
    * loop halves the hot mass geometrically), now driven by the sink
    * itself instead of an operator remembering to call it. A replayed
    * cadence batch re-runs the policy: already-split cells are
    * absent from the codebook and their dirs are gone, so hotCells
    * simply won't name them again (and a crash mid-split heals via
    * splitCell's own roll-forward).
    */
  def sink(vectors: DataFrame, indexDir: String, checkpointDir: String,
      trainOnFirstBatch: Boolean = true, k: Int = 16, compactEvery: Int = 8,
      trigger: Trigger = Trigger.AvailableNow(),
      splitHotAbovePpm: Long = 0L): DataStreamWriter[Row] =
    vectors.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, indexDir, batchId, trainOnFirstBatch, k)
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
          maintenanceTick(batch.sparkSession, indexDir, batchId,
            splitHotAbovePpm = splitHotAbovePpm)
          ()
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .outputMode("append")
}
