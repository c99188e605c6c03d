package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.StreamingIvf

/** Prices the VECTOR-erasure path (r11): an IVF index of N vectors over
  * 8 ingest batches, then retraction of K ids chosen to touch EVERY
  * (batch, cell) partition (worst-case purge locality — uniform stride),
  * then physical purge, then vacuum.
  *
  * What the numbers must show for the 100 TB story:
  *  - retraction (logical erasure) is O(K): one bounded write, no index
  *    scan;
  *  - the probe's anti-join overhead is flat (the retraction set is a
  *    broadcast literal in the plan — probe cost follows probed cells,
  *    not retraction history);
  *  - purge wall follows the TOUCHED partitions' rows, not N — and with
  *    worst-case locality (every partition touched) it approaches one
  *    full rewrite, which is exactly the honest bound: erasure locality
  *    is the operator's dial, batch/cell-clustered requests purge
  *    proportionally less;
  *  - after purge + vacuum the lossless gate holds: full-nprobe probe ≡
  *    brute force over the remaining corpus.
  *
  * Run: SPARK_GRAFT_CPUS=16 sbt "runMain graft.tools.VectorErasureSoak [nVecs] [nRetract]"
  */
object VectorErasureSoak {
  def main(args: Array[String]): Unit = {
    val nVecs = args.headOption.map(_.toInt).getOrElse(200000)
    val nRetract = args.lift(1).map(_.toInt).getOrElse(2000)
    val spark = graft.GraftSession.fromEnv(16)
    import spark.implicits._
    def time[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // 10 well-separated gaussian-ish clusters (deterministic hash noise)
    def vecs(lo: Long, hi: Long): DataFrame =
      spark.range(lo, hi).select(
        col("id").as("vec_id"),
        expr("transform(sequence(0, 63), j -> CAST(" +
          "  CASE WHEN j = CAST(id % 10 AS INT) * 6 THEN 8.0 ELSE 0.0 END" +
          "  + CAST(pmod(xxhash64(id * 64 + j), 1000) AS DOUBLE) / 2000.0 AS FLOAT))")
          .as("embedding"),
        (col("id") % 10).cast("int").as("label"))

    val dir = java.nio.file.Files.createTempDirectory("vec-erasure").toString + "/ix"
    val per = math.ceil(nVecs / 8.0).toLong
    val (_, ingestWall) = time {
      (0 until 8).foreach { b =>
        StreamingIvf.ingestBatch(
          vecs(b * per, math.min((b + 1) * per, nVecs)), dir, b.toLong,
          trainOnFirstBatch = b == 0, k = 16)
      }
    }
    println(f"[vec-erasure] ingested $nVecs%,d vectors over 8 batches in $ingestWall%.1f s")

    val probes = vecs(0, 4)
    def probeIds(): Set[Long] =
      StreamingIvf.probe(spark, dir, probes, nprobe = 16, topK = 5)
        .select(col("neighbor_id")).collect().map(_.getLong(0)).toSet
    val (_, probeBefore) = time(probeIds())

    // worst-case locality: a stride COPRIME to the 10-cluster cycle (an
    // even stride would alias onto one cluster → accidental cell
    // locality) touches every batch and every cell
    val stride = math.max(1L, nVecs.toLong / nRetract) + 1
    val ids = spark.range(0, nRetract).select((col("id") * stride + 5).as("vec_id"))
      .filter(col("vec_id") < nVecs)
    val (recorded, retractWall) = time(
      StreamingIvf.retractVectors(spark, dir, ids, 0L))
    println(f"[vec-erasure] logical retraction of $recorded%,d ids in $retractWall%.2f s")

    val (after, probeAfter) = time(probeIds())
    val idSet = ids.collect().map(_.getLong(0)).toSet
    require(after.intersect(idSet).isEmpty, "retracted vector probed")
    println(f"[vec-erasure] probe wall before/after retraction: " +
      f"$probeBefore%.2f / $probeAfter%.2f s (anti-join overhead)")

    val ((parts, rows), purgeWall) = time(StreamingIvf.purgeRetracted(spark, dir))
    println(f"[vec-erasure] physical purge: $rows%,d rows across $parts%,d partitions in $purgeWall%.1f s")
    require(rows == recorded, s"purged $rows != recorded $recorded")

    val (vac, vacWall) = time(StreamingIvf.vacuumRetractions(spark, dir, 0L))
    println(f"[vec-erasure] vacuumed $vac retraction set(s) in $vacWall%.2f s")

    // lossless gate over the remaining corpus (sampled probes, full nprobe)
    val remaining = vecs(0, nVecs).join(
      spark.range(0, nRetract).select((col("id") * stride + 5).as("vec_id")),
      Seq("vec_id"), "left_anti")
    val q = probes.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val c = remaining.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
    val cos = call_function("vec_dot", col("qe"), col("ce")) /
      (sqrt(call_function("vec_dot", col("qe"), col("qe"))) *
        sqrt(call_function("vec_dot", col("ce"), col("ce"))))
    val brute = q.crossJoin(c).filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cos.as("cosine"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(desc("cosine"), col("neighbor_id"))))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .collect().map(_.mkString("|")).toSet
    val pruned = StreamingIvf.probe(spark, dir, probes, nprobe = 16, topK = 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .collect().map(_.mkString("|")).toSet
    require(pruned == brute, "post-erasure lossless gate failed")
    println(s"[vec-erasure] post-erasure lossless gate (full nprobe == brute force): true")

    // ------------------------------------------------------------------
    // ONE-PASS MAINTENANCE vs the two-step sequence (r12): same index
    // shape, same worst-case-locality retraction, then (A) purge-then-
    // compact on one copy vs (B) compactAndPurge on another. End states
    // must be probe-identical and raw-byte clean; the wall ratio is the
    // measured value of folding erasure into the consolidation rewrite.
    // ------------------------------------------------------------------
    def freshIx(tag: String): String = {
      val d = java.nio.file.Files.createTempDirectory(s"vec-maint-$tag").toString + "/ix"
      (0 until 8).foreach { b =>
        StreamingIvf.ingestBatch(
          vecs(b * per, math.min((b + 1) * per, nVecs)), d, b.toLong,
          trainOnFirstBatch = b == 0, k = 16)
      }
      StreamingIvf.retractVectors(spark, d,
        spark.range(0, nRetract).select((col("id") * stride + 5).as("vec_id"))
          .filter(col("vec_id") < nVecs), 0L)
      d
    }
    val dirA = freshIx("twostep"); val dirB = freshIx("onepass")
    val (_, twoStepWall) = time {
      StreamingIvf.purgeRetracted(spark, dirA)
      StreamingIvf.compactIndex(spark, dirA, liveBatchId = 8L, fullRefoldAt = 1)
    }
    val (_, onePassWall) = time(
      StreamingIvf.compactAndPurge(spark, dirB, liveBatchId = 8L, fullRefoldAt = 1))
    val pa = StreamingIvf.probe(spark, dirA, probes, nprobe = 16, topK = 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .collect().map(_.mkString("|")).toSet
    val pb = StreamingIvf.probe(spark, dirB, probes, nprobe = 16, topK = 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .collect().map(_.mkString("|")).toSet
    require(pa == pb && pa == brute, "one-pass maintenance end state diverged")
    Seq(dirA, dirB).foreach { d =>
      require(StreamingIvf.vacuumRetractions(spark, d, 0L) == 1,
        s"vacuum blocked after maintenance on $d")
    }
    println(f"[vec-erasure] maintenance wall: purge-then-compact $twoStepWall%.1f s " +
      f"vs compactAndPurge $onePassWall%.1f s " +
      f"(${twoStepWall / onePassWall}%.2fx; end states probe-identical, vacuum lifts on both)")
    spark.stop()
  }
}
