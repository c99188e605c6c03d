package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** PER-PARTITION BLOOM INDEX — data skipping beyond min/max footer stats
  * (the Delta/Iceberg bloom-filter-index feature): point lookups on a
  * high-cardinality key that is NOT the partition/sort column normally
  * scan every partition, because min/max ranges on a hash-distributed
  * key cover everything. A bloom per partition turns that into
  * "read only the partitions that MIGHT contain the key":
  *
  *  1. build: one grouped aggregate over the table — per partition
  *     value, a serialized bloom of `xxhash64(CAST(key AS BIGINT))`
  *     (Spark's own
  *     [[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate]],
  *     `bloom_agg` in the [[graft.Graft]] catalog — the same sketch
  *     InjectRuntimeFilter builds at runtime, surfaced as a PERSISTED
  *     index artifact) plus the row count. The cast pins ONE hash space
  *     for build and probe: xxhash64 over an IntegerType column hashes
  *     4-byte values, the driver-side probe hashes an 8-byte long —
  *     without the cast a non-long key column silently false-negatives,
  *     violating the index's no-false-negative contract;
  *     publish is READER-ATOMIC: each (re)build lands a new immutable
  *     `v%05d` directory and then swings the `_CURRENT` pointer file —
  *     a reader mid-rebuild resolves either the old or the new complete
  *     version, never a missing or half-written directory (the
  *     CorpusManifest versioned-artifact pattern; the previous version
  *     is retained one cycle for in-flight readers);
  *  2. probe: the index is METADATA-sized (one row per partition), so
  *     membership tests run driver-side over the collected sketches —
  *     the billions of data rows never move;
  *  3. read: the data scan filters to the candidate partition values
  *     (partition pruning on a Hive layout) + the exact key predicate —
  *     a false positive costs one extra partition scan and is removed
  *     by the exact filter; false negatives don't exist.
  *
  * At 100 TB: the build is one linear map-side-combined pass emitting
  * one row per partition; each point lookup reads ~(1 + fpp·|parts|)
  * partitions instead of all of them. A bloom can't subtract, so APPENDS
  * are maintained either by [[refreshPartitions]] (O(touched-partition)
  * rebuild) or by [[appendSideIndex]] (O(batch) per-batch side blooms,
  * folded back by [[compactSides]] per compaction cycle) — both in the
  * fail-safe direction: a stale index can only over-read, never miss,
  * when every bloom is built from a superset slice of the data. For the
  * side-index path that superset discipline is an ORDERING contract:
  * publish the side bloom BEFORE the data append (see
  * [[appendSideIndex]]) so a crash between the two leaves a bloom with
  * keys whose rows never landed — an over-read — rather than landed rows
  * in no bloom — a miss.
  */
object BloomIndex {

  /** Resolve the current index version under `indexDir`: the `_CURRENT`
    * pointer if present, else the highest `v%05d` directory (covers a
    * crash between version write and pointer swing — the newest COMPLETE
    * version wins because version dirs are written before the pointer).
    * Returns -1 when no version exists yet.
    */
  private def currentVersion(fs: org.apache.hadoop.fs.FileSystem, indexDir: String): Int = {
    val ptr = new Path(indexDir, "_CURRENT")
    if (fs.exists(ptr)) {
      val in = fs.open(ptr)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim.toInt
      finally in.close()
    } else {
      val root = new Path(indexDir)
      if (!fs.exists(root)) -1
      else fs.listStatus(root).map(_.getPath.getName)
        .filter(_.matches("v\\d{5}")).map(_.drop(1).toInt)
        .foldLeft(-1)(math.max)
    }
  }

  /** Publish one index frame as the next version and swing the pointer;
    * retains exactly one prior version for in-flight readers.
    */
  private def publish(spark: SparkSession, indexDir: String, idx: DataFrame): Unit = {
    val fs = new Path(indexDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = currentVersion(fs, indexDir) + 1
    idx.coalesce(1).write.mode("overwrite")
      .parquet(f"$indexDir/v$next%05d")
    val ptr = new Path(indexDir, "_CURRENT")
    val tmp = new Path(indexDir, "_CURRENT.tmp")
    val out = fs.create(tmp, true)
    try out.write(next.toString.getBytes("UTF-8")) finally out.close()
    fs.delete(ptr, false) // readers fall back to max-version during this instant
    if (!fs.rename(tmp, ptr))
      throw new IllegalStateException(s"bloom index pointer swing failed: $tmp -> $ptr")
    // keep version next-1 for readers that resolved before the swing
    fs.listStatus(new Path(indexDir)).map(_.getPath)
      .filter(p => p.getName.matches("v\\d{5}") && p.getName.drop(1).toInt < next - 1)
      .foreach(fs.delete(_, true))
  }

  /** The current index table: `(part, n_rows, bloom)`, one row per
    * partition value. Reads the pointed-at immutable version (legacy
    * root-level parquet files from a pre-versioned build are read
    * directly).
    */
  def read(spark: SparkSession, indexDir: String): DataFrame = {
    val fs = new Path(indexDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = currentVersion(fs, indexDir)
    if (v >= 0) spark.read.parquet(f"$indexDir/v$v%05d")
    else spark.read.parquet(indexDir)
  }

  /** Build the index for `dataDir` (Hive-partitioned by `partCol`) over
    * `keyCol`: one row per partition value — `(part, n_rows, bloom)` —
    * published reader-atomically to `indexDir` (versioned dir + pointer).
    */
  def build(spark: SparkSession, dataDir: String, indexDir: String,
      partCol: String, keyCol: String,
      expectedPerPartition: Long = 1000000L, fpp: Double = 0.01): Unit = {
    // Spark's own BloomFilter sizing rule (optimalNumOfBits)
    val numBits = math.ceil(
      -expectedPerPartition * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    val idx = spark.read.parquet(dataDir)
      .groupBy(col(partCol).cast("string").as("part"))
      .agg(count(lit(1)).as("n_rows"),
        call_function("bloom_agg", xxhash64(col(keyCol).cast("long")),
          lit(expectedPerPartition), lit(numBits)).as("bloom"))
    publish(spark, indexDir, idx)
  }

  /** INCREMENTAL maintenance: rebuild ONLY the touched partitions' index
    * rows after an append (a bloom can't subtract, but it can be rebuilt
    * per partition from that partition's data alone — cost follows the
    * append's locality, not table size). Untouched rows carry over
    * byte-identical; the publish is the same reader-atomic versioned
    * pointer swing as [[build]], so readers mid-refresh stay on the
    * previous complete index.
    */
  def refreshPartitions(spark: SparkSession, dataDir: String, indexDir: String,
      partCol: String, keyCol: String, parts: Seq[String],
      expectedPerPartition: Long = 1000000L, fpp: Double = 0.01): Unit = {
    require(parts.nonEmpty, "refreshPartitions needs at least one partition")
    val numBits = math.ceil(
      -expectedPerPartition * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    // read ONLY the touched partitions (explicit path list, the lookup's
    // own pruning discipline)
    val touched = spark.read.option("basePath", dataDir)
      .parquet(parts.map(partPath(dataDir, partCol, _)): _*)
      .groupBy(col(partCol).cast("string").as("part"))
      .agg(count(lit(1)).as("n_rows"),
        call_function("bloom_agg", xxhash64(col(keyCol).cast("long")),
          lit(expectedPerPartition), lit(numBits)).as("bloom"))
    // null-safe: a null (default-partition) row must survive a refresh
    // of the other partitions, and `NOT (NULL IN (...))` drops it
    val untouched = read(spark, indexDir)
      .filter(!parts.map(p => col("part") <=> lit(p)).reduce(_ || _))
    // the new version must not lazily re-read rows from a version dir the
    // publish is about to expire — pin the union before publishing
    publish(spark, indexDir, untouched.unionByName(touched).localCheckpoint(true))
  }

  // ---------------------------------------------------------------------
  // PER-BATCH SIDE INDEXES — append maintenance that costs O(batch), not
  // O(partition): a bloom can't subtract, but it CAN union. Each append
  // lands a side index built from the batch rows alone under
  // `indexDir/side/b%09d` (write-to-tmp + rename — a listed side dir is
  // always complete); the probe ORs main + sides, so a key added by any
  // un-folded append is still found (no false negatives, the fail-safe
  // direction), at the price of one extra driver-side membership test
  // per side. [[compactSides]] folds them back into the main index per
  // compaction cycle (the StreamingProfile persisted-partial pattern).
  // Crash anywhere: sides only ever ADD candidate partitions — a stale
  // or duplicated side over-reads, never misses.
  // ---------------------------------------------------------------------

  private def sideRoot(indexDir: String) = new Path(indexDir, "side")

  private def sideDirs(fs: org.apache.hadoop.fs.FileSystem,
      indexDir: String): Seq[Path] = {
    val root = sideRoot(indexDir)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath)
      .filter(_.getName.matches("b\\d{9}"))
      .sortBy(_.getName)
  }

  /** Index ONLY an appended batch's rows as a side index — call BEFORE
    * appending `batch` to the data layout (the side needs nothing from
    * disk, only the batch rows the caller already holds). The ordering
    * is the crash contract: side-first means a crash between the two
    * steps leaves a bloom advertising keys whose rows never landed —
    * candidateParts over-reads and the data scan finds nothing, which is
    * correct. Data-first would invert it: landed rows in no bloom are a
    * FALSE NEGATIVE, the one failure the index promises away. If an
    * existing pipeline already appended data without a side, repair with
    * [[refreshPartitions]] over the touched partitions. Cost follows the
    * batch, not the partitions it lands in. Returns the side sequence
    * number.
    */
  def appendSideIndex(spark: SparkSession, indexDir: String,
      partCol: String, keyCol: String, batch: DataFrame,
      expectedItems: Long = 100000L, fpp: Double = 0.01): Long = {
    val numBits = math.ceil(
      -expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    val side = batch
      .groupBy(col(partCol).cast("string").as("part"))
      .agg(count(lit(1)).as("n_rows"), // the batch's DELTA, not the total
        call_function("bloom_agg", xxhash64(col(keyCol).cast("long")),
          lit(expectedItems), lit(numBits)).as("bloom"))
    val fs = new Path(indexDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = sideDirs(fs, indexDir).lastOption
      .map(_.getName.drop(1).toLong + 1).getOrElse(0L)
    val tmp = new Path(sideRoot(indexDir), s".tmp-${java.util.UUID.randomUUID}")
    side.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val dst = new Path(sideRoot(indexDir), f"b$next%09d")
    if (!fs.rename(tmp, dst))
      throw new IllegalStateException(s"side index publish failed: $tmp -> $dst")
    next
  }

  /** Fold every side index back into the main index: one
    * [[refreshPartitions]] over the union of side-touched partitions
    * (rebuilt from the DATA, so the fold is exact regardless of how many
    * batches stacked up), then drop the folded sides. Publish-then-drop
    * ordering keeps a crash window fail-safe: the new main version
    * already covers the appends, so a surviving side merely over-reads.
    * Returns the partitions folded.
    */
  def compactSides(spark: SparkSession, dataDir: String, indexDir: String,
      partCol: String, keyCol: String,
      expectedPerPartition: Long = 1000000L, fpp: Double = 0.01): Seq[String] = {
    val fs = new Path(indexDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sides = sideDirs(fs, indexDir) // snapshot: later appends survive
    if (sides.isEmpty) return Seq.empty
    val parts = sides.flatMap { d =>
      spark.read.parquet(d.toString).select(col("part"))
        .collect().map(_.getString(0))
    }.distinct
    refreshPartitions(spark, dataDir, indexDir, partCol, keyCol, parts,
      expectedPerPartition, fpp)
    sides.foreach(fs.delete(_, true))
    parts
  }

  /** The candidate partition values for a point key: driver-side
    * membership tests over the metadata-sized index (|partitions| rows
    * + one row per (un-folded side, partition)). A partition is a
    * candidate when ANY of its blooms — main or side — might contain the
    * key, so appends are visible before any fold.
    */
  def candidateParts(spark: SparkSession, indexDir: String, key: Long): Seq[String] =
    candidatePartsMulti(spark, indexDir, Seq(key))(key)

  /** Candidate partitions for SEVERAL keys from ONE index read+collect —
    * a probe batch (s10 runs 3 point lookups) paid one Spark job per key
    * for the same tiny index frame before this (r14; the same
    * one-read-for-all-sides reasoning as below, applied across keys).
    */
  def candidatePartsMulti(spark: SparkSession, indexDir: String,
      keys: Seq[Long]): Map[Long, Seq[String]] = {
    val fs = new Path(indexDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sides = sideDirs(fs, indexDir)
    // ONE multi-path read for every side (identical schemas): a read per
    // side dir is a Spark job per side — measured 0.1 s/side/probe, which
    // dominates probe latency once appends stack up (SCALE.md, "Bloom-index
    // side-append pricing")
    val frames = read(spark, indexDir) +:
      (if (sides.isEmpty) Seq.empty
       else Seq(spark.read.parquet(sides.map(_.toString): _*)))
    val rows = frames.flatMap(_.select(col("part"), col("bloom")).collect())
    val blooms = rows.map { r =>
      r.getAs[String]("part") -> BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bloom")))
    }
    keys.map { key =>
      val hashed = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        key, org.apache.spark.sql.types.LongType, 42L)
      // probe space = the build's: xxhash64 of the key
      key -> blooms.filter(_._2.mightContainLong(hashed)).map(_._1).distinct
    }.toMap
  }

  /** The driver-gated s10 artifact: `documents` rewritten Hive-partitioned
    * by `lang` with a bloom index on `doc_id` — built once per source
    * fingerprint (the e17 persisted-layout discipline).
    */
  def documentsIndexedLayout(spark: SparkSession, dir: String): String =
    graft.queries.Memo.cachedValue(spark, dir, "s10_bloom_layout") {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_s10_" +
        graft.queries.Memo.fingerprint(spark, dir)
      graft.Tables.documents(spark, dir)
        .write.mode("overwrite").partitionBy("lang").parquet(s"$out/data")
      build(spark, s"$out/data", s"$out/index", "lang", "doc_id",
        expectedPerPartition = 200000L, fpp = 0.01)
      out
    }

  /** s10: point lookups THROUGH the index over the persisted layout —
    * results ≡ a plain filter on the source table (the oracle), but the
    * scan touches only bloom-candidate `lang=` partitions.
    */
  def lookupQuery(spark: SparkSession, dir: String, keys: Seq[Long]): DataFrame = {
    val out = documentsIndexedLayout(spark, dir)
    // r14: the per-key lookup union ran 3 index read+collect jobs and 3
    // schema-inferred data scans for one 3-key probe (11 stages for 0.14
    // executor-s — pure driver latency, VERDICT r13 item 3). One index
    // probe batch + ONE pruned scan with `key IN (...)` returns the same
    // rows: the bloom has no false negatives, so every row matching key k
    // lives in a key-k candidate partition ⊆ the union of candidates; the
    // pinned schema skips per-run footer inference (guide §6).
    val partsByKey = candidatePartsMulti(spark, s"$out/index", keys)
    val parts = partsByKey.values.flatten.toSeq.distinct.sortBy(Option(_))
    val schema = graft.Tables.documents
    val pruned =
      if (parts.isEmpty)
        spark.read.schema(schema).parquet(s"$out/data").filter(lit(false))
      else
        spark.read.option("basePath", s"$out/data").schema(schema)
          .parquet(parts.map(partPath(s"$out/data", "lang", _)): _*)
          .filter(col("doc_id").isin(keys: _*))
    pruned.select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
  }

  /** Index-pruned point lookup: read ONLY the candidate partitions'
    * directories (explicit path list + basePath — pruning at the file
    * listing, the PartitionedIndex probe pattern, so even `inputFiles`
    * shows the subset), then apply the exact key predicate. Returns
    * exactly what a full scan with the same predicate would.
    */
  def lookup(spark: SparkSession, dataDir: String, indexDir: String,
      partCol: String, keyCol: String, key: Long): DataFrame = {
    val parts = candidateParts(spark, indexDir, key)
    if (parts.isEmpty)
      spark.read.parquet(dataDir).filter(lit(false)) // schema-stable empty
    else
      spark.read.option("basePath", dataDir)
        .parquet(parts.map(partPath(dataDir, partCol, _)): _*)
        .filter(col(keyCol) === key)
  }

  /** The directory Spark's partitioned writer gives partition value `p`
    * (the index's `part`): Hive-escaped, and null or empty as
    * `__HIVE_DEFAULT_PARTITION__`.
    */
  private def partPath(dataDir: String, partCol: String, p: String): String =
    s"$dataDir/${ExternalCatalogUtils.getPartitionPathString(partCol, p)}"
}
