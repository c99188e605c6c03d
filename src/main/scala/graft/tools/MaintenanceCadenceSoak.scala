package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.StreamingIvf

/** Long-stream soak for the COMPOSED maintenance cadence
  * ([[graft.streaming.StreamingIvf.maintenanceTick]] armed in the
  * streaming sinks — VERDICT r12 #3): ingest under train-then-drift
  * skew, land GDPR retractions every few batches, let the cadence fold +
  * physically purge + auto-split on its own schedule, and CRASH one tick
  * half-way (fold lands, purge and split never run) so the next cadence
  * has to converge through it.
  *
  * What it measures / verifies:
  *  - per-batch ingest cost FLAT in stream length (first vs last decile);
  *  - tick cost amortized-bounded: each tick folds only the small batches
  *    since the last one (plus the scheduled full refold), never the
  *    corpus per batch;
  *  - END STATE ≡ batch maintenance: a twin index built by plain ingest
  *    of every batch + the same retraction calls + ONE tick at the end
  *    must agree on the live vec_id set and on full-probe answers, both
  *    raw-disk-clean of every retracted id, both vacuum-ready — through
  *    the in-stream splits AND the crashed tick;
  *  - the cadence actually split (codebook version published) and purged
  *    (raw scan carries none of the retracted ids).
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.MaintenanceCadenceSoak [nBatches] [vecsPerBatch]"
  */
object MaintenanceCadenceSoak {
  def main(args: Array[String]): Unit = {
    val nBatches = args.headOption.map(_.toInt).getOrElse(60)
    val perBatch = args.lift(1).map(_.toInt).getOrElse(5000)
    val compactEvery = 4
    val splitHot = 3000000L
    val spark = graft.GraftSession.fromEnv(16)

    // train-then-drift (the IvfSplitSoak lesson): batch 0 is balanced
    // over 8 axis clusters — the codebook trains on it — then 80% of
    // every later vector lands in the axis-0 cluster. Deterministic
    // hash noise, no Random.
    def batchDf(b: Int): DataFrame = {
      val lo = b.toLong * perBatch
      spark.range(lo, lo + perBatch).select(col("id").as("vec_id"),
        expr(s"""transform(sequence(0, 31), j -> cast(
                  (CASE WHEN (id < $perBatch AND j = id % 8)
                         OR (id >= $perBatch AND id % 10 < 8 AND j = 0)
                         OR (id >= $perBatch AND id % 10 >= 8 AND j = (id % 7) + 1)
                        THEN 10.0 ELSE 0.0 END)
                  + (pmod(xxhash64(id, j), 600) - 300) / 1000.0 AS float))""")
          .as("embedding"),
        lit(0).as("label"))
    }
    // GDPR set r (issued after batch 5r drains): a stride through the
    // five batches ingested since the previous one — disjoint by range
    def retractionSet(r: Int): Seq[Long] = {
      val lo = (5L * r - 5L) * perBatch
      val hi = 5L * r * perBatch
      (lo until hi by 101L)
    }

    val work = java.nio.file.Files.createTempDirectory("mcadence-soak").toString
    val armed = s"$work/armed"; val twin = s"$work/twin"
    val crashedTickAt = (nBatches / 2 / compactEvery) * compactEvery // mid-stream cadence

    // ——— the armed stream: the sink's exact per-batch body ———
    var ingestT = Vector.empty[Double]
    var tickT = Vector.empty[(Long, Double, Int, Seq[Int])] // (batch, secs, purgedParts, splits)
    (0 until nBatches).foreach { b =>
      val t0 = System.nanoTime()
      StreamingIvf.ingestBatch(batchDf(b), armed, b.toLong,
        trainOnFirstBatch = true, k = 8)
      ingestT :+= (System.nanoTime() - t0) / 1e9
      if (b > 0 && b % 5 == 0) {
        import spark.implicits._
        StreamingIvf.retractVectors(spark, armed,
          retractionSet(b / 5).toDF("vec_id"), (b / 5).toLong)
      }
      if (b > 0 && b % compactEvery == 0) {
        val t1 = System.nanoTime()
        if (b == crashedTickAt) {
          // CRASH LEG: the tick dies after its fold — retractions stay
          // logical, no split runs; the next cadence must converge
          val filt: DataFrame => DataFrame =
            StreamingIvf.retractedIds(spark, armed) match {
              case None => identity
              case Some(r) => df => df.join(broadcast(r), Seq("vec_id"), "left_anti")
            }
          StreamingIvf.compactIndex(spark, armed, b.toLong, foldFilter = filt)
          tickT :+= ((b.toLong, (System.nanoTime() - t1) / 1e9, -1, Seq.empty))
        } else {
          val (_, purged, splits) = StreamingIvf.maintenanceTick(spark, armed,
            b.toLong, splitHotAbovePpm = splitHot)
          tickT :+= ((b.toLong, (System.nanoTime() - t1) / 1e9, purged._1, splits))
        }
      }
    }

    // ——— the batch-maintenance twin ———
    (0 until nBatches).foreach(b =>
      StreamingIvf.ingestBatch(batchDf(b), twin, b.toLong,
        trainOnFirstBatch = true, k = 8))
    locally {
      import spark.implicits._
      (1 to (nBatches - 1) / 5).foreach(r =>
        StreamingIvf.retractVectors(spark, twin,
          retractionSet(r).toDF("vec_id"), r.toLong))
    }
    val twinTick = {
      val t0 = System.nanoTime()
      StreamingIvf.maintenanceTick(spark, twin, nBatches.toLong,
        splitHotAbovePpm = splitHot)
      (System.nanoTime() - t0) / 1e9
    }

    // ——— end-state equivalence ———
    val nRetr = (nBatches - 1) / 5
    val retractedAll = (1 to nRetr).flatMap(retractionSet).toSet
    def raw(dir: String) = StreamingIvf.scanPostings(spark, dir).get
    val armedIds = raw(armed).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    val twinIds = raw(twin).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    require(armedIds == twinIds, "armed and twin live vec_id sets diverged")
    require(armedIds.intersect(retractedAll).isEmpty,
      s"retracted bytes survived on raw disk: ${armedIds.intersect(retractedAll).take(5)}")
    require(armedIds.size == nBatches.toLong * perBatch - retractedAll.size,
      "live set size drifted")

    def top1(dir: String, probes: DataFrame): Set[(Long, Long)] = {
      val nprobe = StreamingIvf.centroids(spark, dir).count().toInt
      StreamingIvf.probe(spark, dir, probes, nprobe = nprobe, topK = 1)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val probes = raw(armed).select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") % (nBatches.toLong * perBatch / 24) === 3)
    require(top1(armed, probes) == top1(twin, probes),
      "full-probe answers diverged between the armed cadence and batch maintenance")
    require(StreamingIvf.vacuumRetractions(spark, armed, nRetr.toLong) == nRetr,
      "armed retraction horizon must vacuum after the cadence")
    require(StreamingIvf.vacuumRetractions(spark, twin, nRetr.toLong) == nRetr,
      "twin retraction horizon must vacuum after its tick")
    val armedCells = StreamingIvf.centroids(spark, armed).count()
    val splitsRan = tickT.map(_._4.size).sum

    val dec = math.max(1, nBatches / 10)
    val mFirst = ingestT.slice(dec / 2, dec + dec / 2).sum / dec
    val mLast = ingestT.takeRight(dec).sum / dec
    println(f"| batches | vecs/batch | ingest first-decile | ingest last-decile | growth |")
    println(f"| $nBatches | $perBatch | $mFirst%.3f s | $mLast%.3f s | ${mLast / mFirst}%.2f× |")
    println(s"| tick (batch, secs, purgedParts, splits): " +
      tickT.map { case (b, s, p, sp) =>
        f"$b:$s%.1fs/p=$p/${sp.size}" }.mkString(" ") + " |")
    println(f"| crashed tick at $crashedTickAt (fold-only) — next cadence converged |")
    println(f"| twin single tick: $twinTick%.1f s | armed cells: $armedCells | splits ran: $splitsRan |")
    println(s"| end state: live=${armedIds.size} retracted=${retractedAll.size} " +
      s"armed==twin: true | full-probe equal: true | vacuum: ok |")
    spark.stop()
  }
}
