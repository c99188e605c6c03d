package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkTestKit, Tables}
import graft.operators.IvfIndex

/** Vector retraction — GDPR erasure reaching the VECTOR index (the
  * document path's [[StreamingTombstone]]/release-retraction sibling).
  * Contracts:
  *  - retraction is IMMEDIATE and lossless: probes exclude the vector
  *    from the moment the set lands, and at nprobe = |codebook| the
  *    probe equals brute force over the REMAINING vectors;
  *  - the retraction FENCES redelivery: a re-ingested copy of a
  *    retracted vec_id stays invisible until the retraction is vacuumed;
  *  - the admission screen's history side excludes retracted vectors (a
  *    near-copy of an erased vector is admitted fresh, not matched
  *    against data that is supposed to be gone);
  *  - purge is PHYSICAL and probe-invariant: the bytes leave disk, empty
  *    partitions disappear cleanly, query results do not move;
  *  - vacuum refuses while any posting still carries a retracted id;
  *  - hot-cell load is measured over queryable rows only.
  */
class StreamingIvfRetractSpec extends AnyFunSuite with SparkTestKit {

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def vectors: DataFrame = Tables.embeddings(spark, sfDir)

  private def probeSet(df: DataFrame): Set[String] =
    df.select(col("query_id"), col("neighbor_id"), col("rank"))
      .collect().map(_.mkString("|")).toSet

  /** Brute-force cosine top-k over an explicit corpus — the reference the
    * lossless gate compares against (same tie-break as probe()).
    */
  private def brute(probes: DataFrame, corpus: DataFrame, topK: Int = 3): Set[String] = {
    val q = probes.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
    val cos = call_function("vec_dot", col("qe"), col("ce")) /
      (sqrt(call_function("vec_dot", col("qe"), col("qe"))) *
        sqrt(call_function("vec_dot", col("ce"), col("ce"))))
    probeSet(q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cos.as("cosine"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(desc("cosine"), col("neighbor_id"))))
      .filter(col("rank") <= topK))
  }

  private def freshIndex(k: Int = 8): (String, DataFrame) = {
    val dir = tmp("sivf-retract")
    val built = IvfIndex.buildQuantized(spark, vectors, k = k)
    StreamingIvf.publishCentroids(spark, dir, built.centroids)
    val half = vectors.count() / 2
    StreamingIvf.ingestBatch(vectors.filter(col("vec_id") < half), dir, 0L)
    StreamingIvf.ingestBatch(vectors.filter(col("vec_id") >= half), dir, 1L)
    (dir, vectors)
  }

  import spark.implicits._

  test("retraction is immediate and lossless at full probe; purge is probe-invariant and physical") {
    val (dir, vecs) = freshIndex()
    val probes = vecs.filter(col("vec_id") < 4)
    val before = probeSet(StreamingIvf.probe(spark, dir, probes, nprobe = 8))
    assert(before == brute(probes, vecs), "pre-retraction lossless gate")

    // victim: probe 0's rank-1 neighbor — retraction must reshape results
    val victim = StreamingIvf.probe(spark, dir, probes, nprobe = 8)
      .filter(col("query_id") === 0 && col("rank") === 1)
      .head().getAs[Long]("neighbor_id")
    assert(StreamingIvf.retractVectors(spark, dir, Seq(victim).toDF("vec_id"), 0L) == 1)

    val after = probeSet(StreamingIvf.probe(spark, dir, probes, nprobe = 8))
    assert(!after.exists(_.split("\\|")(1) == victim.toString),
      s"retracted $victim still probed")
    val remaining = vecs.filter(col("vec_id") =!= victim)
    assert(after == brute(probes, remaining), "post-retraction lossless gate")

    // physical purge: bytes leave, results do not move
    assert(StreamingIvf.scanPostings(spark, dir).get
      .filter(col("vec_id") === victim).count() == 1, "raw rows present pre-purge")
    val (parts, rows) = StreamingIvf.purgeRetracted(spark, dir)
    assert(parts == 1 && rows == 1L)
    assert(StreamingIvf.scanPostings(spark, dir).get
      .filter(col("vec_id") === victim).count() == 0, "purge must be physical")
    assert(probeSet(StreamingIvf.probe(spark, dir, probes, nprobe = 8)) == after)
    // purge is idempotent-by-emptiness
    assert(StreamingIvf.purgeRetracted(spark, dir) == ((0, 0L)))
  }

  test("retraction fences redelivery; vacuum guards, then lifts the fence") {
    val (dir, vecs) = freshIndex()
    val probes = vecs.filter(col("vec_id") < 4)
    val victim = StreamingIvf.probe(spark, dir, probes, nprobe = 8)
      .filter(col("query_id") === 0 && col("rank") === 1)
      .head().getAs[Long]("neighbor_id")
    StreamingIvf.retractVectors(spark, dir, Seq(victim).toDF("vec_id"), 0L)

    // vacuum refuses while the posting bytes are still on disk
    val guard = intercept[IllegalArgumentException] {
      StreamingIvf.vacuumRetractions(spark, dir, horizon = 0L)
    }
    assert(guard.getMessage.contains("purgeRetracted"))

    StreamingIvf.purgeRetracted(spark, dir)
    // redelivery of the erased vector: stays invisible while retained
    StreamingIvf.ingestBatch(vecs.filter(col("vec_id") === victim), dir, 2L)
    val live = probeSet(StreamingIvf.probe(spark, dir, probes, nprobe = 8))
    assert(!live.exists(_.split("\\|")(1) == victim.toString),
      "redelivered copy of a retracted vector must stay invisible")

    // ... but the redelivered copy's bytes are purgeable again
    StreamingIvf.purgeRetracted(spark, dir)
    // now nothing carries the id → the retention can be vacuumed,
    // lifting the fence for any FUTURE (post-vacuum) ingest
    assert(StreamingIvf.vacuumRetractions(spark, dir, horizon = 0L) == 1)
    StreamingIvf.ingestBatch(vecs.filter(col("vec_id") === victim), dir, 3L)
    val relisted = probeSet(StreamingIvf.probe(spark, dir, probes, nprobe = 8))
    assert(relisted.exists(_.split("\\|")(1) == victim.toString),
      "post-vacuum ingest must be visible again")
  }

  test("admission screen history excludes retracted vectors; replayed retraction is idempotent") {
    val dir = tmp("sivf-retract-screen")
    // synthetic far-apart corpus: one-hot dims → cosine 1 for same dim,
    // 0 otherwise (tau = 0.9 matches exact-direction copies only)
    def oneHot(d: Int): Seq[Float] = Seq.tabulate(16)(i => if (i == d) 1f else 0f)
    val base = (0 until 8).map(i => (i.toLong, oneHot(i), i)).toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "cast(embedding as array<float>) as embedding", "cast(label as int) as label")
    StreamingIvf.screenBatch(base, dir, 0L, nprobe = 4, tau = 0.9, k = 4)

    StreamingIvf.retractVectors(spark, dir, Seq(3L).toDF("vec_id"), 0L)
    StreamingIvf.retractVectors(spark, dir, Seq(3L).toDF("vec_id"), 0L) // replay
    assert(StreamingIvf.retractedIds(spark, dir).get.count() == 1)

    // a fresh copy of direction 3 (new id): with vector 3 erased it must
    // be admitted clean; a copy of direction 5 must still match vector 5
    val next = Seq((100L, oneHot(3), 3), (101L, oneHot(5), 5))
      .toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "cast(embedding as array<float>) as embedding", "cast(label as int) as label")
    val verdicts = StreamingIvf.screenBatch(next, dir, 1L, nprobe = 4, tau = 0.9, k = 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(!verdicts(100L), "copy of an ERASED vector must screen clean")
    assert(verdicts(101L), "copy of a live vector must still match")
  }

  test("maintenance composition: purge then compact erases AND folds in one pass") {
    val (dir, vecs) = freshIndex()
    val probes = vecs.filter(col("vec_id") < 4)
    val victim = StreamingIvf.probe(spark, dir, probes, nprobe = 8)
      .filter(col("query_id") === 0 && col("rank") === 1)
      .head().getAs[Long]("neighbor_id")
    StreamingIvf.retractVectors(spark, dir, Seq(victim).toDF("vec_id"), 0L)
    val want = probeSet(StreamingIvf.probe(spark, dir, probes, nprobe = 8))

    // the standard maintenance pass: physical erasure, then the fold
    StreamingIvf.purgeRetracted(spark, dir)
    StreamingIvf.compactIndex(spark, dir, liveBatchId = 2L, fullRefoldAt = 1)
    // folded index: retracted bytes gone from every partition (incl. the
    // consolidated one), probe results unmoved, lossless gate intact
    assert(StreamingIvf.scanPostings(spark, dir).get
      .filter(col("vec_id") === victim).count() == 0)
    val after = probeSet(StreamingIvf.probe(spark, dir, probes, nprobe = 8))
    assert(after == want, "compaction after purge moved probe results")
    assert(after == brute(probes, vecs.filter(col("vec_id") =!= victim)))
  }

  /** RAW on-disk rows under postings/, manifest-blind: lists every
    * `__batch=` dir directly (including any a pending-delete manifest
    * hides from scanPostings) — the view a GDPR auditor takes of the
    * physical bytes.
    */
  private def rawDiskRows(dir: String, victim: Long): Long = {
    val (fs, root) = PartitionedIndex.fsFor(spark, s"$dir/postings")
    if (!fs.exists(root)) return 0L
    def hasParquet(p: org.apache.hadoop.fs.Path): Boolean = {
      val it = fs.listFiles(p, true)
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) return true
      false
    }
    val dirs = fs.listStatus(root).filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("__batch=") && hasParquet(s.getPath))
      .map(_.getPath.toString)
    if (dirs.isEmpty) 0L
    else spark.read.option("basePath", s"$dir/postings")
      .parquet(dirs.toIndexedSeq: _*).filter(col("vec_id") === victim).count()
  }

  test("compact → retract → purge erases the bytes from PENDING partitions too; vacuum guard is manifest-blind") {
    val (dir, vecs) = freshIndex()
    val probes = vecs.filter(col("vec_id") < 4)
    // fold batches 0 and 1 → consolidated target + pending manifest
    // listing the originals, whose dirs stay on disk for one cycle
    StreamingIvf.compactIndex(spark, dir, liveBatchId = 2L, fullRefoldAt = 1)
    val (fs, pRoot) = PartitionedIndex.fsFor(spark, s"$dir/postings")
    assert(fs.exists(new org.apache.hadoop.fs.Path(pRoot, PartitionedIndex.pendingFile)),
      "fixture: compaction must leave a live pending-delete manifest")

    val victim = StreamingIvf.probe(spark, dir, probes, nprobe = 8)
      .filter(col("query_id") === 0 && col("rank") === 1)
      .head().getAs[Long]("neighbor_id")
    StreamingIvf.retractVectors(spark, dir, Seq(victim).toDF("vec_id"), 0L)
    val want = probeSet(StreamingIvf.probe(spark, dir, probes, nprobe = 8))
    assert(rawDiskRows(dir, victim) >= 2L,
      "fixture: the victim's bytes must sit in BOTH the consolidated " +
        "partition and a pending-listed original")

    // purge must settle the deferred deletion and erase EVERYWHERE — a
    // pending-skipping rewrite would leave the folded originals' copy on
    // disk while reporting complete physical erasure
    StreamingIvf.purgeRetracted(spark, dir)
    assert(rawDiskRows(dir, victim) == 0L,
      "retracted bytes survive in a folded-but-undeleted partition")
    assert(probeSet(StreamingIvf.probe(spark, dir, probes, nprobe = 8)) == want,
      "purge across a pending fold moved probe results")
    // and the vacuum guard would have seen them: it reads raw dirs, so
    // with the purge done it may now lift the fence
    assert(StreamingIvf.vacuumRetractions(spark, dir, horizon = 0L) == 1)
  }

  test("purging an all-retracted fold target cannot resurrect the folded originals") {
    // tiny index: every vector retracted, so after the fold the purge
    // EMPTIES (and deletes) the consolidated partition — which must not
    // happen while a manifest still names it as the fold target (the
    // pending list would go inert and the originals would resurface,
    // permanently blocking vacuum)
    val dir = tmp("sivf-retract-all")
    def oneHot(d: Int): Seq[Float] = Seq.tabulate(8)(i => if (i == d) 1f else 0f)
    def df(rows: Seq[(Long, Seq[Float], Int)]) =
      rows.toDF("vec_id", "embedding", "label")
        .selectExpr("vec_id", "cast(embedding as array<float>) as embedding",
          "cast(label as int) as label")
    StreamingIvf.screenBatch(df((0 until 4).map(i => (i.toLong, oneHot(i), i))),
      dir, 0L, nprobe = 4, tau = 0.9, k = 4)
    StreamingIvf.ingestBatch(df((4 until 8).map(i => (i.toLong, oneHot(i % 4), i))), dir, 1L)
    StreamingIvf.compactIndex(spark, dir, liveBatchId = 2L, fullRefoldAt = 1)

    StreamingIvf.retractVectors(spark, dir, (0L until 8L).toDF("vec_id"), 0L)
    StreamingIvf.purgeRetracted(spark, dir)

    val (fs, pRoot) = PartitionedIndex.fsFor(spark, s"$dir/postings")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(pRoot, PartitionedIndex.pendingFile)),
      "a manifest outlived the purge of its own fold target")
    (0L until 8L).foreach(v => assert(rawDiskRows(dir, v) == 0L,
      s"vec $v resurfaced from a folded original after the target was emptied"))
    assert(StreamingIvf.vacuumRetractions(spark, dir, horizon = 0L) == 1,
      "vacuum must lift once nothing on disk carries the ids")
  }

  test("compactAndPurge: one pass erases AND folds; end state equals purge-then-compact") {
    // reference end state: the two-step sequence on index A
    val (dirA, vecsA) = freshIndex()
    val probesA = vecsA.filter(col("vec_id") < 4)
    val victim = StreamingIvf.probe(spark, dirA, probesA, nprobe = 8)
      .filter(col("query_id") === 0 && col("rank") === 1)
      .head().getAs[Long]("neighbor_id")
    StreamingIvf.retractVectors(spark, dirA, Seq(victim).toDF("vec_id"), 0L)
    StreamingIvf.purgeRetracted(spark, dirA)
    StreamingIvf.compactIndex(spark, dirA, liveBatchId = 2L, fullRefoldAt = 1)
    val want = probeSet(StreamingIvf.probe(spark, dirA, probesA, nprobe = 8))

    // one-pass maintenance on an identical index B
    val (dirB, _) = freshIndex()
    StreamingIvf.retractVectors(spark, dirB, Seq(victim).toDF("vec_id"), 0L)
    val (folded, _) = StreamingIvf.compactAndPurge(spark, dirB,
      liveBatchId = 2L, fullRefoldAt = 1)
    assert(folded._1 == 2, s"fixture: both historical batches should fold, got $folded")

    assert(probeSet(StreamingIvf.probe(spark, dirB, probesA, nprobe = 8)) == want,
      "one-pass maintenance diverged from purge-then-compact")
    assert(rawDiskRows(dirB, victim) == 0L,
      "fold-filtered compaction left retracted bytes on raw disk")
    // the folded mass was erased IN the fold: the consolidated partition
    // never contained the victim, so the post-fold sweep had nothing to
    // rewrite there — and vacuum lifts immediately
    assert(StreamingIvf.vacuumRetractions(spark, dirB, horizon = 0L) == 1)

    // composition with an ALL-retracted index: the emptied fold target is
    // swept, nothing resurfaces, vacuum lifts
    val (dirC, vecsC) = freshIndex()
    val allIds = vecsC.select(col("vec_id"))
    StreamingIvf.retractVectors(spark, dirC, allIds, 0L)
    StreamingIvf.compactAndPurge(spark, dirC, liveBatchId = 2L, fullRefoldAt = 1)
    vecsC.select(col("vec_id")).collect().map(_.getLong(0)).take(8).foreach(v =>
      assert(rawDiskRows(dirC, v) == 0L, s"vec $v survived an all-retracted one-pass"))
    assert(StreamingIvf.vacuumRetractions(spark, dirC, horizon = 0L) == 1)
  }

  test("retraction replay never opens a no-set window; a divergent replay fails loud") {
    val (dir, vecs) = freshIndex()
    StreamingIvf.retractVectors(spark, dir, Seq(5L).toDF("vec_id"), 7L)
    val (fs, root) = PartitionedIndex.fsFor(spark, s"$dir/retracted/r=7")
    assert(fs.exists(root))
    // same-set replay keeps the committed publish in place (no
    // delete-then-rename republish — the dir never disappears)
    assert(StreamingIvf.retractVectors(spark, dir, Seq(5L).toDF("vec_id"), 7L) == 1L)
    assert(fs.exists(root))
    assert(StreamingIvf.retractedIds(spark, dir).get.count() == 1)
    // a replay carrying a DIFFERENT set under the same id is a contract
    // violation — fail loud, never silently drop either set
    val err = intercept[IllegalArgumentException] {
      StreamingIvf.retractVectors(spark, dir, Seq(6L).toDF("vec_id"), 7L)
    }
    assert(err.getMessage.contains("different vec_id set"))
    assert(StreamingIvf.retractedIds(spark, dir).get
      .collect().map(_.getLong(0)).toSet == Set(5L))
  }

  test("hot-cell load is measured over queryable rows only") {
    val dir = tmp("sivf-retract-hot")
    def vec(d: Int, j: Int): Seq[Float] =
      Seq.tabulate(16)(i => if (i == d) 1f else 0.001f * j)
    // balanced-train-then-drift (the split-pricing fixture lesson in
    // SCALE.md, "IVF hot-cell splits": training ON the skew absorbs the
    // hot cluster): batch 0 trains on 2 rows per direction, batch 1 pours
    // 20 skewed rows into direction 0's cell
    def df(rows: Seq[(Long, Seq[Float], Int)]) =
      rows.toDF("vec_id", "embedding", "label")
        .selectExpr("vec_id", "cast(embedding as array<float>) as embedding",
          "cast(label as int) as label")
    val train = (0 to 3).flatMap(d => Seq((100L + d, vec(d, 0), d), (200L + d, vec(d, 1), d)))
    val skew = (0 until 20).map(j => (10L + j, vec(0, j), 0))
    StreamingIvf.ingestBatch(df(train), dir, 0L, trainOnFirstBatch = true, k = 4)
    StreamingIvf.ingestBatch(df(skew), dir, 1L)
    val hotBefore = StreamingIvf.hotCells(spark, dir, thresholdPpm = 2500000L)
    assert(hotBefore.nonEmpty, "fixture cell should be hot pre-retraction")
    // retract the entire skewed mass → only the balanced training rows
    // remain (≤ 4 of 8 per cell even if two directions share one), so no
    // cell can clear the 2.5× line
    StreamingIvf.retractVectors(spark, dir,
      (10L until 30L).toDF("vec_id"), 0L)
    val hotAfter = StreamingIvf.hotCells(spark, dir, thresholdPpm = 2500000L)
    assert(hotAfter.isEmpty,
      s"retracted mass still nominates cells: $hotAfter")
  }
}
