package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import graft.queries.Ngrams

/** Live benchmark decontamination — the streaming face of the d6/d6b
  * batch operators, the same way [[StreamingNearDup]] is d3's: every
  * incoming document is checked against the held-out eval split BEFORE
  * admission, so benchmark leakage is caught at intake rather than in a
  * post-hoc sweep of the assembled corpus.
  *
  * Composition (all existing, individually-gated pieces):
  *  - the eval side is PREPARED ONCE ([[prepare]]): its distinct 8-gram
  *    set (cached — eval splits are small by definition) plus a Bloom
  *    sketch of xxhash64(gram) serialized into a foldable literal;
  *  - per micro-batch, the batch's 8-gram postings are pre-filtered by
  *    `bloom_might_contain` AT SCAN SPEED (Spark's native codegen
  *    Predicate — d6b's trick), so only the ~hit-rate+fpp fraction of
  *    gram rows reaches the verify join;
  *  - the exact broadcast join against the eval grams removes bloom
  *    false positives — verdicts are bit-identical to a batch d6
  *    recompute (gated by StreamingDecontamSpec).
  *
  * Contract mirrors [[StreamingNearDup]]: one verdict row PER INPUT DOC
  * (a doc under 8 tokens has no 8-grams and cannot be contaminated —
  * explicit false, not a missing row); verdict writes are per-`__batch`
  * dynamic overwrites, so at-least-once foreachBatch execution has
  * exactly-once effect.
  *
  * Scale: the eval side is broadcast-sized by nature; the batch side is
  * one narrow postings projection + filtered broadcast join — no
  * shuffle grows with history, and (unlike the near-dup screen) there
  * is NO growing index: decontamination is stateless per batch.
  */
object StreamingDecontam {

  /** The once-prepared eval side: cached distinct grams + bloom literal. */
  final case class Screen(evalGrams: DataFrame, bloom: Column, n: Int)

  /** Build the eval side once per stream: distinct n-grams (cached) and
    * the serialized Bloom sketch as a literal.
    */
  def prepare(evalDocs: DataFrame, n: Int = 8,
      expectedGrams: Long = 100000L, fpp: Double = 0.01): Screen = {
    val spark = evalDocs.sparkSession
    val evalG = Ngrams.postings(evalDocs, n, distinct = true, outCol = "g")
      .select(col("g")).distinct().cache()
    val bloom = lit(graft.functions.BloomFilters.bloomBytes(
      evalG, col("g"), expectedGrams, fpp))
    Screen(evalG, bloom, n)
  }

  /** Per-doc verdicts for one batch:
    * `(doc_id, is_contaminated, n_shared_ngrams)`.
    */
  def screenBatch(batch: DataFrame, screen: Screen): DataFrame = {
    val hits = Ngrams.postings(batch, screen.n, distinct = true, outCol = "g")
      .filter(call_function("bloom_might_contain", screen.bloom, xxhash64(col("g"))))
      .join(broadcast(screen.evalGrams), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("hits"))
    batch.select(col("doc_id")).distinct()
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("hits").isNotNull.as("is_contaminated"),
        coalesce(col("hits"), lit(0L)).as("n_shared_ngrams"))
  }

  /** Streaming sink: screen each micro-batch of `(doc_id, text)` rows
    * against the prepared eval split, writing verdicts idempotently
    * (per-batch dynamic-overwrite partitions).
    */
  def sink(docs: DataFrame, screen: Screen, verdictDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        screenBatch(batch, screen)
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
