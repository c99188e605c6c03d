package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** INCREMENTAL COLUMN PROFILE — dq9's streaming face: every micro-batch
  * contributes a metadata-sized PARTIAL (per-column row/null counts and
  * min/max, plus an exact distinct-key BITMAP), and the profile of
  * everything-seen-so-far is one aggregation over the stored partials —
  * no history rescan, ever.
  *
  * The mergeability discipline decides what can be profiled this way:
  * counts add, min/max fold, and the distinct count uses the a26 bitmap
  * pair ([[graft.functions.BitmapBytesAgg]] emits each batch's bitmap,
  * [[graft.functions.BitmapOrAgg]] word-ORs stored bitmaps back to a
  * cardinality) — EXACT across any partition of history into batches,
  * which HLL cannot promise and re-counting cannot afford. The key
  * domain contract is a26's: surrogate ints in [0, domain), loud failure
  * outside.
  *
  * Writes follow the house exactly-once contract: per-`__batch` dynamic
  * overwrites, so at-least-once foreachBatch replays converge.
  *
  * Scale: per batch one aggregation pass (numeric stats + bitmap in the
  * same agg); the partial is \|columns\| rows + domain/8 bitmap bytes
  * regardless of batch size; the cumulative read is an aggregation over
  * \|batches\|·\|columns\| partial rows — metadata, not data.
  */
object StreamingProfile {

  /** One batch's partial: long-format numeric stats
    * `(column_name, n_rows, n_null, min_num, max_num)` for each of
    * `numCols`, plus `(key_bitmap)` for `keyCol` over `[0, domain)`.
    * All profiled columns must be integer-typed (the dq9 normalization —
    * cents/µs — is the caller's job, upstream of the stream).
    */
  def profileBatch(batch: DataFrame, numCols: Seq[String], keyCol: String,
      domain: Int): (DataFrame, DataFrame) = {
    val aggs = numCols.flatMap { c =>
      Seq(count(col(c)).as(s"c_$c"),
        min(col(c)).cast("long").as(s"mn_$c"),
        max(col(c)).cast("long").as(s"mx_$c"))
    } :+ call_function("bitmap_bytes", col(keyCol).cast("long"), lit(domain))
      .as("key_bitmap")
    val wide = batch.agg(count(lit(1)).as("n_rows"), aggs: _*)
    val stats = wide.select(explode(array(numCols.map { c =>
      struct(lit(c).as("column_name"), col("n_rows"),
        (col("n_rows") - col(s"c_$c")).as("n_null"),
        col(s"mn_$c").as("min_num"), col(s"mx_$c").as("max_num"))
    }: _*)).as("r")).select(col("r.*"))
    val bitmap = wide.select(lit(keyCol).as("column_name"), col("key_bitmap"))
    (stats, bitmap)
  }

  /** The profile of everything ingested so far: one aggregation over the
    * stored partials. `n_distinct_keys` is EXACT (bitmap OR-fold).
    */
  def cumulative(spark: SparkSession, statsDir: String,
      bitmapDir: String): DataFrame = {
    val stats = spark.read.parquet(statsDir)
      .groupBy(col("column_name"))
      .agg(sum(col("n_rows")).cast("long").as("n_rows"),
        sum(col("n_null")).cast("long").as("n_null"),
        min(col("min_num")).as("min_num"),
        max(col("max_num")).as("max_num"))
    val distinct = spark.read.parquet(bitmapDir)
      .agg(call_function("bitmap_or_count", col("key_bitmap"))
        .as("n_distinct_keys"))
    stats.crossJoin(broadcast(distinct))
  }

  /** Streaming sink: stats + bitmap partials per batch, both
    * `__batch`-scoped dynamic overwrites (replay-idempotent).
    */
  def sink(rows: DataFrame, numCols: Seq[String], keyCol: String, domain: Int,
      statsDir: String, bitmapDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    rows.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val (stats, bitmap) = profileBatch(batch, numCols, keyCol, domain)
          def write(df: DataFrame, dir: String): Unit =
            df.withColumn("__batch", lit(batchId))
              .write
              .option("partitionOverwriteMode", "dynamic")
              .mode("overwrite")
              .partitionBy("__batch")
              .parquet(dir)
          write(stats, statsDir)
          write(bitmap, bitmapDir)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .outputMode("append")
}
