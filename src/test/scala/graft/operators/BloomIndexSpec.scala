package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestKit

/** Bloom-index gates: an index-pruned point lookup returns exactly the
  * full-scan result; the pruned scan touches only candidate partitions
  * (measured via inputFiles); a key present in one partition prunes to
  * ~1 partition; rebuild is atomic (old index intact on failure path is
  * covered by the rename contract shared with Compaction).
  */
class BloomIndexSpec extends AnyFunSuite with SparkTestKit {

  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  // 8 lang partitions × 2000 keys, keys disjoint per partition so the
  // expected prune is exactly one partition (+ fpp stragglers)
  private def writeData(dir: String): Unit =
    (0 until 8).flatMap { p =>
      (0 until 2000).map(i => (p * 10000L + i, s"lang$p", i.toLong % 97))
    }.toDF("k", "lang", "v")
      .write.partitionBy("lang").mode("overwrite").parquet(dir)

  test("pruned lookup equals full scan and reads a strict subset of partitions") {
    val dataDir = tmp("bi-data") + "/t"
    val idxDir = tmp("bi-idx") + "/ix"
    writeData(dataDir)
    BloomIndex.build(spark, dataDir, idxDir, "lang", "k",
      expectedPerPartition = 4000L, fpp = 0.01)

    val idx = BloomIndex.read(spark, idxDir)
    assert(idx.count() == 8L)
    assert(idx.agg(sum($"n_rows")).head().getLong(0) == 16000L)

    // keys in partitions 0, 3, 7 + one absent key
    for (key <- Seq(5L, 30017L, 70123L)) {
      val expectedPart = s"lang${key / 10000}"
      val cands = BloomIndex.candidateParts(spark, idxDir, key)
      assert(cands.contains(expectedPart), s"index missed the true partition for $key")
      assert(cands.size <= 2, s"fpp blowout for $key: $cands") // 1 + rare straggler
      val got = BloomIndex.lookup(spark, dataDir, idxDir, "lang", "k", key)
      val want = spark.read.parquet(dataDir).filter($"k" === key)
      assert(got.collect().toSeq.sortBy(_.toString) ==
        want.collect().toSeq.sortBy(_.toString))
      // the pruned scan plans only the candidate partitions' files
      val files = got.inputFiles
      assert(files.nonEmpty &&
        files.forall(f => cands.exists(c => f.contains(s"lang=$c"))),
        s"pruned scan read beyond candidates: ${files.mkString(",")}")
    }
    // absent key: no false negatives possible; result must be empty
    val absent = BloomIndex.lookup(spark, dataDir, idxDir, "lang", "k", 999999L)
    assert(absent.count() == 0L)
  }

  test("refreshPartitions rebuilds only the touched rows; untouched rows carry over byte-identical") {
    val dataDir = tmp("bi-data3") + "/t"
    val idxDir = tmp("bi-idx3") + "/ix"
    writeData(dataDir)
    BloomIndex.build(spark, dataDir, idxDir, "lang", "k", 4000L)
    def indexRows(): Map[String, (Long, String)] =
      BloomIndex.read(spark, idxDir).collect().map { r =>
        r.getAs[String]("part") -> ((r.getAs[Long]("n_rows"),
          r.getAs[Array[Byte]]("bloom").map("%02x".format(_)).mkString))
      }.toMap
    val before = indexRows()
    // append into lang2 only, refresh just that partition
    Seq((88888L, "lang2", 1L)).toDF("k", "lang", "v")
      .write.partitionBy("lang").mode("append").parquet(dataDir)
    BloomIndex.refreshPartitions(spark, dataDir, idxDir, "lang", "k",
      Seq("lang2"), 4000L)
    val after = indexRows()
    assert(after("lang2")._1 == 2001L, "touched row must reflect the append")
    assert(BloomIndex.candidateParts(spark, idxDir, 88888L).contains("lang2"))
    assert(BloomIndex.lookup(spark, dataDir, idxDir, "lang", "k", 88888L).count() == 1L)
    // every untouched row is byte-identical (count AND sketch)
    (before.keySet - "lang2").foreach { p =>
      assert(after(p) == before(p), s"untouched partition $p drifted")
    }
  }

  test("rebuild replaces the index atomically and reflects appends") {
    val dataDir = tmp("bi-data2") + "/t"
    val idxDir = tmp("bi-idx2") + "/ix"
    writeData(dataDir)
    BloomIndex.build(spark, dataDir, idxDir, "lang", "k", 4000L)
    // append a new key into lang0, rebuild, index must now route to it
    Seq((99999L, "lang0", 1L)).toDF("k", "lang", "v")
      .write.partitionBy("lang").mode("append").parquet(dataDir)
    BloomIndex.build(spark, dataDir, idxDir, "lang", "k", 4000L)
    assert(BloomIndex.candidateParts(spark, idxDir, 99999L).contains("lang0"))
    assert(BloomIndex.lookup(spark, dataDir, idxDir, "lang", "k", 99999L).count() == 1L)
    assert(BloomIndex.read(spark, idxDir)
      .filter($"part" === "lang0").head().getAs[Long]("n_rows") == 2001L)
  }

  test("rebuild is reader-atomic: the prior version stays readable through the swing") {
    val dataDir = tmp("bi-data4") + "/t"
    val idxDir = tmp("bi-idx4") + "/ix"
    writeData(dataDir)
    BloomIndex.build(spark, dataDir, idxDir, "lang", "k", 4000L)
    // a reader that resolved v00000 before the rebuild must still be able
    // to read that directory after the rebuild publishes v00001 (retention
    // keeps exactly one prior version)
    val v0 = s"$idxDir/v00000"
    assert(spark.read.parquet(v0).count() == 8L)
    BloomIndex.build(spark, dataDir, idxDir, "lang", "k", 4000L)
    assert(spark.read.parquet(v0).count() == 8L, "prior version deleted too early")
    assert(BloomIndex.read(spark, idxDir).count() == 8L)
    // a third build expires v00000 (retain-one policy) but keeps v00001
    BloomIndex.build(spark, dataDir, idxDir, "lang", "k", 4000L)
    val fs = new org.apache.hadoop.fs.Path(idxDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(v0)))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idxDir/v00001")))
    assert(BloomIndex.candidateParts(spark, idxDir, 5L).contains("lang0"))
  }

  test("per-batch side index: appends visible at O(batch) cost, main index untouched") {
    val dataDir = tmp("bi-data6") + "/t"
    val idxDir = tmp("bi-idx6") + "/ix"
    writeData(dataDir)
    BloomIndex.build(spark, dataDir, idxDir, "lang", "k", 4000L)
    def mainBytes(): Map[String, String] =
      BloomIndex.read(spark, idxDir).collect().map { r =>
        r.getAs[String]("part") ->
          r.getAs[Array[Byte]]("bloom").map("%02x".format(_)).mkString
      }.toMap
    val before = mainBytes()
    // two appends: one into an existing partition, one creating a NEW one
    val b1 = Seq((77777L, "lang3", 1L)).toDF("k", "lang", "v")
    b1.write.partitionBy("lang").mode("append").parquet(dataDir)
    assert(BloomIndex.appendSideIndex(spark, idxDir, "lang", "k", b1, 1000L) == 0L)
    val b2 = Seq((88801L, "lang9", 2L), (88802L, "lang3", 3L)).toDF("k", "lang", "v")
    b2.write.partitionBy("lang").mode("append").parquet(dataDir)
    assert(BloomIndex.appendSideIndex(spark, idxDir, "lang", "k", b2, 1000L) == 1L)
    // main version untouched (no O(partition) work happened)
    assert(mainBytes() == before, "side append must not rewrite the main index")
    // appended keys are found through the sides; pre-existing keys still route
    for ((key, part) <- Seq((77777L, "lang3"), (88801L, "lang9"),
        (88802L, "lang3"), (30017L, "lang3"))) {
      assert(BloomIndex.candidateParts(spark, idxDir, key).contains(part),
        s"key $key lost with un-folded sides")
      assert(BloomIndex.lookup(spark, dataDir, idxDir, "lang", "k", key).count() == 1L)
    }
    // a partition refresh leaves the sides stacked; every key still routes
    BloomIndex.refreshPartitions(spark, dataDir, idxDir, "lang", "k", Seq("lang3"), 4000L)
    for ((key, part) <- Seq((77777L, "lang3"), (88801L, "lang9"), (88802L, "lang3")))
      assert(BloomIndex.candidateParts(spark, idxDir, key).contains(part),
        s"key $key lost after a refresh with sides stacked")
    // fold: one refresh over the side-touched partitions, sides dropped
    val folded = BloomIndex.compactSides(spark, dataDir, idxDir, "lang", "k", 4000L)
    assert(folded.toSet == Set("lang3", "lang9"))
    val after = mainBytes()
    assert(after.keySet == before.keySet + "lang9")
    assert(after("lang3") != before("lang3"), "folded partition must re-index")
    (before.keySet - "lang3").foreach(p => assert(after(p) == before(p),
      s"untouched partition $p drifted through the fold"))
    val fs = new org.apache.hadoop.fs.Path(idxDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idxDir/side/b000000000")))
    // post-fold: all keys still found, second compact is a no-op
    for ((key, _) <- Seq((77777L, "lang3"), (88801L, "lang9"), (5L, "lang0")))
      assert(BloomIndex.lookup(spark, dataDir, idxDir, "lang", "k", key).count() == 1L)
    assert(BloomIndex.compactSides(spark, dataDir, idxDir, "lang", "k", 4000L).isEmpty)
  }

  test("non-long key columns share the probe's hash space (no false negatives)") {
    // the ADVICE repro: an IntegerType key hashed in its native width
    // would occupy a different xxhash64 space than the driver-side
    // long-typed probe — the build's cast-to-long pins one space
    val dataDir = tmp("bi-data5") + "/t"
    val idxDir = tmp("bi-idx5") + "/ix"
    (0 until 4).flatMap { p =>
      (0 until 500).map(i => (p * 1000 + i, s"lang$p", i))
    }.toDF("k", "lang", "v")
      .withColumn("k", $"k".cast("int"))
      .write.partitionBy("lang").mode("overwrite").parquet(dataDir)
    BloomIndex.build(spark, dataDir, idxDir, "lang", "k", 1000L)
    for (key <- Seq(5L, 1017L, 3499L)) {
      val expectedPart = s"lang${key / 1000}"
      assert(BloomIndex.candidateParts(spark, idxDir, key).contains(expectedPart),
        s"int-typed key $key false-negatived")
      assert(BloomIndex.lookup(spark, dataDir, idxDir, "lang", "k", key).count() == 1L)
    }
  }

  test("null and Hive-escaped partition values resolve to the directories Spark wrote") {
    // null is written as lang=__HIVE_DEFAULT_PARTITION__ and "a/b" as
    // lang=a%2Fb; a raw `lang=$p` path names neither
    val dataDir = tmp("bi-data6") + "/t"
    val idxDir = tmp("bi-idx6") + "/ix"
    val langs = Seq[String]("en", null, "a/b", "x=y")
    langs.zipWithIndex.flatMap { case (l, p) => (0 until 500).map(i => (p * 1000L + i, l)) }
      .toDF("k", "lang")
      .write.partitionBy("lang").mode("overwrite").parquet(dataDir)
    BloomIndex.build(spark, dataDir, idxDir, "lang", "k", 1000L)
    def lookupsMatchScan(): Unit = for (p <- langs.indices) {
      val key = p * 1000L + 7
      val got = BloomIndex.lookup(spark, dataDir, idxDir, "lang", "k", key).collect().toSeq
      val want = spark.read.parquet(dataDir).filter($"k" === key).collect().toSeq
      assert(want.size == 1 && got == want, s"key $key in lang=${langs(p)}: got $got")
    }
    lookupsMatchScan()
    // refreshing one partition keeps every other row, the null one included
    BloomIndex.refreshPartitions(spark, dataDir, idxDir, "lang", "k", Seq("en"), 1000L)
    assert(BloomIndex.read(spark, idxDir).count() == langs.size.toLong)
    lookupsMatchScan()
  }
}
