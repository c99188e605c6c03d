package graft.streaming

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Continuous SemDeDup — the streaming face of the e8 batch operator
  * ([[graft.operators.SemDedup]], after Abbas et al. 2023,
  * arXiv:2303.09540): every incoming embedding is checked for a
  * sufficiently-similar (cosine ≥ τ) vector among EVERYTHING already
  * ingested before it is admitted, and the history index grows
  * incrementally per micro-batch. This is the embedding-side sibling of
  * [[StreamingNearDup]]'s text screen — the shape a multimodal intake
  * needs ("is this image/audio/text embedding a near-copy of one we
  * hold?") without ever rescanning the corpus.
  *
  * CELLS BOUND THE PROBE, exactly as in batch SemDeDup: vectors are
  * assigned to k-means cells once at ingest, the index is one row per
  * vector carrying `(cell_id, embedding, nrm)`, and the probe is an
  * EQUI-join on `cell_id` with exact cosine verification in-cell — never
  * all-pairs, Σ|cell|² bounded, same as e8/e11.
  *
  * THE CODEBOOK IS FROZEN AT FIRST INGEST: centroids are trained
  * (seeded, deterministic) on the first batch and published atomically
  * next to the index; every later batch — and every replay of the first —
  * reuses them. A frozen codebook is what makes per-batch assignment
  * deterministic AND keeps old index rows valid (retraining would move
  * cell boundaries under history, forcing a full re-assign). This is the
  * standard production arrangement: codebooks come from an offline
  * train, drift is handled by rebuilding the index, not mutating it.
  * Cell balance can degrade if the stream drifts far from the first
  * batch's distribution — the fail-soft is a larger probe cell, never a
  * wrong verdict, since the verdict is exact cosine within the cell.
  *
  * Index storage/replay/compaction all ride [[PartitionedIndex]]: one
  * `__batch=N` partition per micro-batch, dynamic-overwrite replays
  * (at-least-once execution, exactly-once effect), pending-manifest
  * compaction that is safe to run concurrently with a probe.
  */
object StreamingSemDedup {

  private def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  private def emptyIndex(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "vec_id bigint, embedding array<float>, nrm double, cell_id int, __batch bigint"))

  /** Load the frozen centroids, training and publishing them from this
    * batch if none exist yet. Publish is write-then-rename; a concurrent
    * or replayed first batch that loses the rename race reads the winner
    * (both trained on the same batch with the same seed → identical).
    */
  def centroidsFor(spark: SparkSession, indexDir: String, firstBatch: DataFrame,
      k: Int, seed: Long): DataFrame = {
    val dir = indexDir + ".centroids"
    val (fs, root) = PartitionedIndex.fsFor(spark, dir)
    if (!fs.exists(root)) {
      val ds = firstBatch.withColumn("features", array_to_vector(col("embedding")))
      // a first batch smaller than k (or with < k distinct points) crashes
      // MLlib's aggregator — cap k; fewer cells just means larger ones,
      // verdicts stay exact (in-cell cosine is the decider, not the cells)
      val nDistinct = firstBatch.select(col("embedding")).distinct().count().toInt
      // an empty batch cannot train a codebook at all — callers must defer
      // to the first non-empty batch (screenBatch does); fail loud here
      // rather than let KMeans throw its opaque aggregator error
      require(nDistinct >= 1,
        s"cannot train the frozen codebook at $dir on an empty batch; " +
          "defer centroid publication to the first non-empty batch")
      val kEff = math.max(1, math.min(k, nDistinct))
      val model = new KMeans().setK(kEff).setSeed(seed).setMaxIter(8)
        .setFeaturesCol("features").fit(ds)
      val cents = spark.createDataFrame(
        model.clusterCenters.zipWithIndex.map { case (c, i) =>
          (i, c.toArray.map(_.toFloat))
        }.toIndexedSeq).toDF("cell_id", "centroid")
      // unique tmp per attempt: two concurrent first batches must not
      // clobber each other's build dir before the publish race resolves
      val tmp = new org.apache.hadoop.fs.Path(
        dir + ".tmp-" + java.util.UUID.randomUUID().toString)
      cents.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      // Hadoop rename(dir, existingDir) MOVES the source INSIDE the
      // destination (and returns true) — so a lost race can nest our tmp
      // under the winner's published dir. Treat either a false return or
      // a nested tmp as "lost": remove the leftovers and read the winner
      // (identical content — same batch, same seed).
      val renamed = fs.rename(tmp, root)
      val nested = new org.apache.hadoop.fs.Path(root, tmp.getName)
      if (!renamed || fs.exists(nested)) {
        fs.delete(nested, true)
        fs.delete(tmp, true)
      }
    }
    spark.read.parquet(dir)
  }

  /** Assign each vector its nearest cell (broadcast centroids, exact L2
    * via |a|²−2a·b+|b|²) and its norm — the index row shape.
    */
  def assign(batch: DataFrame, centroids: DataFrame): DataFrame = {
    val l2sq = dot(col("embedding"), col("embedding")) -
      lit(2.0) * dot(col("embedding"), col("centroid")) +
      dot(col("centroid"), col("centroid"))
    batch.select(col("vec_id"), col("embedding"))
      .join(broadcast(centroids))
      .groupBy(col("vec_id"))
      .agg(
        first(col("embedding")).as("embedding"),
        min_by(col("cell_id"), struct(l2sq.as("d2"), col("cell_id"))).as("cell_id"))
      .select(col("vec_id"), col("embedding"),
        sqrt(dot(col("embedding"), col("embedding"))).as("nrm"), col("cell_id"))
  }

  /** Screen one batch of `(vec_id, embedding)` rows against the persisted
    * index plus itself, append the batch's rows idempotently, and return
    * per-vector verdicts `(vec_id, is_near_dup, matched_vec, cosine)`:
    * matched_vec is the smallest qualifying earlier vector (history, or a
    * lower-id vector of this batch) and cosine its exact similarity. The
    * batch-internal rule matches batch SemDeDup: lower id survives.
    */
  def screenBatch(batch: DataFrame, indexDir: String, batchId: Long,
      k: Int = 16, tau: Double = 0.40, seed: Long = 42L): DataFrame = {
    val spark = batch.sparkSession
    // an empty trigger (common with ProcessingTime before data arrives)
    // must not train the codebook on zero rows — defer centroid
    // publication to the first non-empty batch and emit no verdicts
    if (batch.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "vec_id bigint, is_near_dup boolean, matched_vec bigint, cosine double"))
    val centroids = centroidsFor(spark, indexDir, batch, k, seed)
    val fresh = assign(batch, centroids).cache()

    // history is STRICTLY EARLIER batches: a replayed batch must not see
    // its own half-appended rows, nor later batches' (replay-after-
    // progress would otherwise drift); consolidated partitions carry
    // fresh negative ids, so they stay
    val hist = PartitionedIndex.scan(spark, indexDir).getOrElse(emptyIndex(spark))
      .filter(col("__batch") < batchId)

    def side(df: DataFrame, tag: String): DataFrame =
      df.select(col("cell_id"), col("vec_id").as(s"${tag}_id"),
        col("embedding").as(s"${tag}_e"), col("nrm").as(s"${tag}_n"))

    // candidates: batch vs history (any id) and vs LOWER-id batchmates;
    // the zero-norm guard keeps 0/0=NaN (which Spark orders above every
    // double) from matching τ — same rule as batch SemDeDup
    val candHist = side(fresh, "a").join(side(hist.drop("__batch"), "b"), Seq("cell_id"))
    val candSelf = side(fresh, "a").join(side(fresh, "b"), Seq("cell_id"))
      .filter(col("b_id") < col("a_id"))
    val matches = candHist.unionByName(candSelf)
      .filter(col("a_n") > 0 && col("b_n") > 0)
      .select(col("a_id"),
        col("b_id"), (dot(col("a_e"), col("b_e")) / (col("a_n") * col("b_n"))).as("cos"))
      .filter(col("cos") >= tau)
      .groupBy(col("a_id"))
      .agg(min_by(struct(col("b_id").as("matched_vec"), col("cos")), col("b_id")).as("m"))
      .select(col("a_id").as("vec_id"), col("m.matched_vec").as("matched_vec"),
        col("m.cos").as("cosine"))

    // publish this batch's index rows: dynamic overwrite of ONLY this batch
    fresh.withColumn("__batch", lit(batchId))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy("__batch")
      .parquet(indexDir)

    // one verdict per input vector; localCheckpoint materializes while the
    // assignment cache is hot (the lazy plan references `fresh` three ways)
    val verdicts = batch.select(col("vec_id")).distinct()
      .join(matches, Seq("vec_id"), "left")
      .select(col("vec_id"), col("matched_vec").isNotNull.as("is_near_dup"),
        col("matched_vec"), col("cosine"))
      .localCheckpoint(true)
    fresh.unpersist()
    verdicts
  }

  /** Maintenance fold of the per-batch partitions; `vec_id` identifies an
    * index row (one row per vector). Safe concurrently with a probe — see
    * [[PartitionedIndex.compact]].
    */
  def compactIndex(spark: SparkSession, indexDir: String, liveBatchId: Long,
      targetFileBytes: Long = 128L * 1024 * 1024,
      fullRefoldAt: Int = 16): (Int, Int, Int) =
    PartitionedIndex.compact(spark, indexDir, liveBatchId,
      dedupKeys = Seq("vec_id"),
      targetFileBytes = targetFileBytes, fullRefoldAt = fullRefoldAt)

  /** Streaming sink: screen each micro-batch of `(vec_id, embedding)`
    * rows, writing verdicts idempotently (per-batch partitions, like the
    * index itself).
    */
  def sink(vectors: DataFrame, indexDir: String, verdictDir: String,
      checkpointDir: String, k: Int = 16, tau: Double = 0.40,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        screenBatch(batch, indexDir, batchId, k = k, tau = tau)
          .withColumn("__batch", lit(batchId))
          .write
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite")
          .partitionBy("__batch")
          .parquet(verdictDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .outputMode("append")
}
