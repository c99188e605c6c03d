package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestKit

/** splitCell — codebook evolution under ingest skew. Contracts:
  *  - strict refinement: the retired cell's members land in its children
  *    and NOTHING else moves (postings vec_id set and every other cell's
  *    membership byte-stable);
  *  - losslessness at full probe: `probe(nprobe = |codebook|)` equals
  *    brute-force cosine top-k BEFORE and AFTER the split;
  *  - the retired id leaves both the codebook and the directory layout;
  *    ingest after the split assigns into the new codebook only;
  *  - hotCells flags exactly the engineered hot cell;
  *  - splitting a non-live cell throws (idempotence guard).
  */
class StreamingIvfSplitSpec extends AnyFunSuite with SparkTestKit {

  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  // engineered skew: 85% of vectors in one tight cluster, the rest spread
  // over 7 others — the hot cell emerges regardless of trained boundaries.
  // LCG directions per the r7 fixture lesson (structured families can't
  // model separation).
  private def mix(i: Long, salt: Long): Float = {
    val x = (i * 6364136223846793005L + salt * 1442695040888963407L + 11L)
    ((x >>> 33).toInt % 1000) / 1000.0f
  }
  private def vecs(n: Int): DataFrame =
    (0 until n).map { i =>
      val hot = i % 20 < 17 // 85%
      val base = if (hot) 0 else 1 + i % 7
      val emb = Array.tabulate(16) { j =>
        10f * (if (j == base) 1f else 0f) + 0.3f * mix(i.toLong, j.toLong + 1)
      }.toSeq
      (i.toLong, emb, base)
    }.toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "cast(embedding as array<float>) as embedding",
        "cast(label as int) as label")

  private def bruteTop1(all: DataFrame, probes: DataFrame): Set[(Long, Long)] = {
    val q = probes.select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val dot = (a: String, b: String) => call_function("vec_dot", col(a), col(b))
    q.crossJoin(all.select($"vec_id".as("n_id"), $"embedding".as("n_emb")))
      .filter($"query_id" =!= $"n_id")
      .select($"query_id", $"n_id",
        (dot("q_emb", "n_emb") /
          (sqrt(dot("q_emb", "q_emb")) * sqrt(dot("n_emb", "n_emb")))).as("cos"))
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy(desc("cos"), $"n_id")))
      .filter($"rk" === 1)
      .select($"query_id", $"n_id").as[(Long, Long)].collect().toSet
  }

  private def postingsSet(dir: String): Set[(Long, Int)] =
    StreamingIvf.scanPostings(spark, dir).get
      .select($"vec_id", $"cell_id").as[(Long, Int)].collect().toSet

  test("split: refinement, losslessness at full probe, retirement, post-split ingest") {
    val dir = tmp("ivfsplit") + "/ix"
    val all = vecs(800).cache()
    val probes = all.filter($"vec_id" % 100 === 3)
    // 2 batches, codebook trained on the first (k = 8)
    StreamingIvf.ingestBatch(all.filter($"vec_id" < 400), dir, 0L,
      trainOnFirstBatch = true, k = 8)
    StreamingIvf.ingestBatch(all.filter($"vec_id" >= 400), dir, 1L)

    val hot = StreamingIvf.hotCells(spark, dir, thresholdPpm = 3000000L)
    assert(hot.size == 1, s"exactly one engineered hot cell expected, got $hot")
    val cell = hot.head

    val before = postingsSet(dir)
    val beforeOthers = before.filter(_._2 != cell)
    val hotMembers = before.filter(_._2 == cell).map(_._1)
    val brute = bruteTop1(all, probes)
    val kBefore = StreamingIvf.centroids(spark, dir).count().toInt
    assert(probeSetTop1(dir, probes, kBefore) == brute,
      "pre-split full probe must equal brute force")

    val newIds = StreamingIvf.splitCell(spark, dir, cell)
    assert(newIds.size == 2 && newIds.forall(_ > cell))

    // codebook: retired id gone, children present, flat k+1 cells
    val cbIds = StreamingIvf.centroids(spark, dir)
      .select($"cell_id").as[Int].collect().toSet
    assert(!cbIds.contains(cell) && newIds.forall(cbIds.contains) &&
      cbIds.size == kBefore + 1)

    // strict refinement: hot members split among the children, everything
    // else byte-stable, nothing lost or duplicated
    val after = postingsSet(dir)
    assert(after.filter(t => !newIds.contains(t._2)) == beforeOthers,
      "non-split cells must not move")
    assert(after.filter(t => newIds.contains(t._2)).map(_._1) == hotMembers,
      "children must hold exactly the retired cell's members")
    assert(after.size == before.size)
    newIds.foreach { c =>
      assert(after.exists(_._2 == c), s"child $c ended empty — not a split")
    }
    // retired dirs gone
    val (fs, pRoot) = PartitionedIndex.fsFor(spark, s"$dir/postings")
    fs.listStatus(pRoot).map(_.getPath).filter(_.getName.startsWith("__batch="))
      .foreach { p =>
        assert(!fs.exists(new org.apache.hadoop.fs.Path(p, s"cell_id=$cell")),
          s"retired cell dir survived under $p")
      }

    // losslessness: full probe over the evolved codebook still == brute force
    assert(probeSetTop1(dir, probes, kBefore + 1) == brute,
      "post-split full probe must equal brute force")

    // post-split ingest assigns into the new codebook only
    val extra = vecs(820).filter($"vec_id" >= 800)
    StreamingIvf.ingestBatch(extra, dir, 2L)
    val post = postingsSet(dir)
    assert(post.size == 820 && !post.exists(_._2 == cell),
      "post-split ingest must never touch the retired id")

    // splitting the retired cell again throws
    intercept[IllegalArgumentException] {
      StreamingIvf.splitCell(spark, dir, cell)
    }
    all.unpersist()
  }

  private def probeSetTop1(dir: String, probes: DataFrame, nprobe: Int): Set[(Long, Long)] =
    StreamingIvf.probe(spark, dir, probes, nprobe = nprobe, topK = 1)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet

  test("mid-stream split: a checkpointed sink swings onto the evolved codebook") {
    // The swing the soak prices, spec-pinned end-to-end through the REAL
    // streaming machinery: file-source stream -> StreamingIvf.sink with a
    // checkpoint, drained; hotCells -> splitCell at the drain boundary;
    // the SAME checkpointed sink restarted over newly-arrived source
    // files. The index must stay lossless at full probe across the swing
    // and the post-split drain must assign into the evolved codebook only.
    val root = tmp("ivfsplitms")
    val src = s"$root/src"; val dir = s"$root/ix"; val ckpt = s"$root/ckpt"
    val all = vecs(900).cache()
    val schema = all.schema
    def drain(): Unit =
      StreamingIvf.sink(spark.readStream.schema(schema).json(src), dir, ckpt,
        trainOnFirstBatch = true, k = 8, compactEvery = 0).start()
        .awaitTermination()

    all.filter($"vec_id" < 400).write.mode("append").json(src)
    drain() // batch 0: trains + publishes the codebook
    all.filter($"vec_id" >= 400 && $"vec_id" < 800).write.mode("append").json(src)
    drain() // batch 1: assigns under the frozen codebook

    val cell = StreamingIvf.hotCells(spark, dir, thresholdPpm = 3000000L).head
    val kBefore = StreamingIvf.centroids(spark, dir).count().toInt
    assert(StreamingIvf.splitCell(spark, dir, cell).size == 2)

    all.filter($"vec_id" >= 800).write.mode("append").json(src)
    drain() // batch 2: the same checkpointed sink, now on the evolved codebook

    // ground truth from the index's own rows (json float round-trip safe)
    val corpus = StreamingIvf.scanPostings(spark, dir).get
      .select($"vec_id", $"embedding").cache()
    assert(corpus.count() == 900)
    val probes = corpus.filter($"vec_id" % 100 === 3)
    assert(probeSetTop1(dir, probes, kBefore + 1) == bruteTop1(corpus, probes),
      "full probe after the mid-stream swing must equal brute force")
    val post = postingsSet(dir)
    assert(!post.exists(_._2 == cell), "retired id must be gone from postings")
    val liveIds = StreamingIvf.centroids(spark, dir)
      .select($"cell_id").as[Int].collect().toSet
    assert(post.filter(_._1 >= 800).forall(t => liveIds.contains(t._2)),
      "post-split drain must assign into the live codebook only")
    corpus.unpersist(); all.unpersist()
  }

  test("auto-split: the armed sink runs the split policy on the compaction cadence") {
    val root = tmp("ivfautosplit")
    val src = s"$root/src"; val dir = s"$root/ix"; val ckpt = s"$root/ckpt"
    // train-then-drift (the soak's finding: training ON the skew just
    // re-balances it): the first wave is BALANCED over 8 clusters — the
    // codebook trains on it — and the later waves drift 85% hot
    val all = (0 until 800).map { i =>
      val base = if (i < 300) i % 8 else if (i % 20 < 17) 0 else 1 + i % 7
      val emb = Array.tabulate(16) { j =>
        10f * (if (j == base) 1f else 0f) + 0.3f * mix(i.toLong, j.toLong + 1)
      }.toSeq
      (i.toLong, emb, base)
    }.toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "cast(embedding as array<float>) as embedding",
        "cast(label as int) as label").cache()
    val schema = all.schema
    def drain(): Unit =
      StreamingIvf.sink(spark.readStream.schema(schema).json(src), dir, ckpt,
        trainOnFirstBatch = true, k = 8, compactEvery = 2,
        splitHotAbovePpm = 3000000L).start().awaitTermination()

    // three drains: batch 2 hits the compaction cadence and must split
    // the engineered hot cell WITHOUT anyone calling splitCell
    all.filter($"vec_id" < 300).write.mode("append").json(src); drain()
    all.filter($"vec_id" >= 300 && $"vec_id" < 600).write.mode("append").json(src); drain()
    all.filter($"vec_id" >= 600).write.mode("append").json(src); drain()

    val trainedK = 8 // k requested; empty cells may drop at train
    val cbIds = StreamingIvf.centroids(spark, dir)
      .select($"cell_id").as[Int].collect().toSet
    assert(cbIds.exists(_ >= trainedK),
      s"the cadence must have split at least one cell (ids above the trained range): $cbIds")
    val post = postingsSet(dir)
    assert(post.size == 800 && post.forall(t => cbIds.contains(t._2)),
      "every posting must sit under a live codebook cell after the auto-split")
    // losslessness survives the policy: full probe == brute force
    val corpus = StreamingIvf.scanPostings(spark, dir).get
      .select($"vec_id", $"embedding").cache()
    val probes = corpus.filter($"vec_id" % 100 === 3)
    assert(probeSetTop1(dir, probes, cbIds.size) == bruteTop1(corpus, probes))
    corpus.unpersist(); all.unpersist()
  }

  test("crash between codebook publish and dir drop: splitCell rolls forward") {
    val dir = tmp("ivfsplitrf") + "/ix"
    val all = vecs(800).cache()
    StreamingIvf.ingestBatch(all.filter($"vec_id" < 400), dir, 0L,
      trainOnFirstBatch = true, k = 8)
    StreamingIvf.ingestBatch(all.filter($"vec_id" >= 400), dir, 1L)
    val cell = StreamingIvf.hotCells(spark, dir, thresholdPpm = 3000000L).head
    val hotRows = StreamingIvf.scanPostings(spark, dir).get
      .filter($"cell_id" === cell)
      .select($"vec_id", $"embedding", $"label", $"__batch", $"cell_id")
      .collect()

    assert(StreamingIvf.splitCell(spark, dir, cell).size == 2)
    val healthy = postingsSet(dir)

    // re-create the crash-between-2-and-3 state: codebook already lacks
    // `cell`, but its dirs are back on disk (rows live under BOTH the
    // retired id and the children)
    spark.createDataFrame(java.util.Arrays.asList(hotRows: _*),
        StreamingIvf.scanPostings(spark, dir).get
          .select($"vec_id", $"embedding", $"label", $"__batch", $"cell_id").schema)
      .write.option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").partitionBy("__batch", "cell_id")
      .parquet(s"$dir/postings")
    assert(postingsSet(dir).size > healthy.size, "orphan dirs must be back")

    // the pre-fix require would throw here; roll-forward finishes step 3
    assert(StreamingIvf.splitCell(spark, dir, cell) == Seq.empty)
    assert(postingsSet(dir) == healthy,
      "roll-forward must restore exactly the healthy post-split layout")
    // a cell in NEITHER the codebook nor the dirs is still misuse
    intercept[IllegalArgumentException] {
      StreamingIvf.splitCell(spark, dir, cell)
    }
    all.unpersist()
  }

  test("crash before codebook publish: compactIndex keeps the LIVE copy, not the orphan") {
    val dir = tmp("ivfsplitdd") + "/ix"
    val all = vecs(800).cache()
    StreamingIvf.ingestBatch(all.filter($"vec_id" < 400), dir, 0L,
      trainOnFirstBatch = true, k = 8)
    StreamingIvf.ingestBatch(all.filter($"vec_id" >= 400), dir, 1L)
    val liveIds = StreamingIvf.centroids(spark, dir)
      .select($"cell_id").as[Int].collect().toSet
    val cell = StreamingIvf.hotCells(spark, dir, thresholdPpm = 3000000L).head

    // crash-between-1-and-2 state: refined postings landed under NEW ids
    // the codebook never published — duplicates of the hot cell's rows
    // under orphan cell ids
    val orphanId = liveIds.max + 50
    val base = StreamingIvf.scanPostings(spark, dir).get
      .select($"vec_id", $"embedding", $"label", $"__batch", $"cell_id")
    base.filter($"cell_id" === cell)
      .withColumn("cell_id", lit(orphanId))
      .write.option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").partitionBy("__batch", "cell_id")
      .parquet(s"$dir/postings")

    val brute = bruteTop1(all, all.filter($"vec_id" % 100 === 3))
    StreamingIvf.compactIndex(spark, dir, liveBatchId = 2L)
    val after = postingsSet(dir)
    assert(after.map(_._1).size == after.size, "dedup must leave one copy per vec_id")
    assert(after.forall(t => liveIds.contains(t._2)),
      s"every kept copy must sit under a LIVE cell id — offenders: " +
        after.filterNot(t => liveIds.contains(t._2)).take(5))
    assert(after.size == 800)
    // and the lossless gate survives the heal
    assert(probeSetTop1(dir, all.filter($"vec_id" % 100 === 3), liveIds.size) == brute,
      "full probe after the heal must equal brute force")
    all.unpersist()
  }
}
