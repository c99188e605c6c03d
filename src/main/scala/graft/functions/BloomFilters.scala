package graft.functions

import java.io.ByteArrayOutputStream
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{lit, xxhash64}

/** Broadcast Bloom-filter pre-filtering — the standard way to cut a
  * 100 TB probe side before an exact join when the build side is small
  * (decontamination against an eval set, CDC key lookups, semi-join
  * pushdown). Spark applies the same trick internally (runtime row-group
  * filtering); this surfaces it as an explicit operator:
  *
  *  1. build: one aggregate over the SMALL side → a sketch of
  *     `xxhash64(key)` values, serialized to a byte array on the driver
  *     (the sketch is KBs–MBs; the side it summarizes may be billions of
  *     rows — the driver never sees those);
  *  2. probe: `bloom_might_contain(<literal sketch>, xxhash64(key))` — a
  *     codegen'd native Predicate (Spark's own `BloomFilterMightContain`,
  *     `bloom_might_contain` in the [[graft.Graft]] catalog) evaluated at
  *     scan speed before any shuffle;
  *  3. verify: the exact join downstream removes false positives, so
  *     results are identical to the unfiltered plan (no false negatives by
  *     construction).
  */
object BloomFilters {

  /** Build a Bloom filter over `xxhash64(key)` of `df` and return it as a
    * foldable binary literal. Key space matches `bloom_might_contain`'s
    * probe (`mightContainLong` over xxhash64), so membership is exact up
    * to the configured false-positive rate. `bloom_might_contain`'s bloom
    * argument must be foldable — Spark's own typecheck for the predicate.
    */
  def bloomLiteral(df: DataFrame, key: Column,
      expectedItems: Long, fpp: Double = 0.01): Column =
    lit(bloomBytes(df, key, expectedItems, fpp))

  /** The serialized sketch itself — callers that construct the same probe
    * plan repeatedly should memoize these bytes (the build is an EAGER
    * aggregation over `df`, not a lazy plan node).
    */
  def bloomBytes(df: DataFrame, key: Column,
      expectedItems: Long, fpp: Double = 0.01): Array[Byte] = {
    val bf = df.stat.bloomFilter(xxhash64(key), expectedItems, fpp)
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }
}
