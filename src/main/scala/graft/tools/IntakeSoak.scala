package graft.tools

import org.apache.spark.sql.functions._

/** End-to-end soak of the composed streaming intake (VERDICT r8 item 5):
  * the full [[graft.streaming.StreamingIntake.sinkWithQuota]] pipeline —
  * near-dup band screen + bloom-prefiltered decontam + temperature-quota
  * admission, one foreachBatch, real file-source micro-batches — over a
  * 500k-document corpus (the ScaleSoak generator at 100× its 1× size).
  *
  * What it checks (printed + asserted, findings go to SCALE.md):
  *  - ledger conservation: Σ per-batch ledger == admitted verdict counts
  *    per lang, and ≤ quota (the gate actually binds);
  *  - one verdict per doc; `admitted = clean ∧ in_quota` consistency;
  *  - replay idempotence AT SCALE: re-running the last batch leaves
  *    verdicts byte-identical;
  *  - state size: the band index holds docs × nBands rows — the thing
  *    that must grow linearly, measured;
  *  - throughput (docs/s end-to-end) for NOTES/SCALE.
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.IntakeSoak [nDocs]"
  */
object IntakeSoak {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(500000)
    val spark = graft.GraftSession.fromEnv(16)
    import graft.streaming.{StreamingDecontam, StreamingIntake}

    val corpus = s"/tmp/graft_intake_soak_$nDocs"
    ScaleSoak.ensureCorpus(spark, corpus, nDocs, 100)
    val work = java.nio.file.Files.createTempDirectory("intake-soak").toString
    val (indexDir, ledgerDir, verdictDir, ckpt) =
      (s"$work/index", s"$work/ledger", s"$work/verdicts", s"$work/ckpt")

    val docsAll = spark.read.parquet(s"$corpus/documents.parquet")
    // eval set: 200 real corpus docs → the decontam screen has real hits
    val evalDocs = docsAll.filter(col("doc_id") % 1000 === 7)
      .select(col("doc_id"), col("text")).limit(200)
    val screen = StreamingDecontam.prepare(evalDocs)
    // quotas sized to BIND for the big languages (en is ~1/3 of docs)
    val quota = spark.createDataFrame(Seq(
      ("en", nDocs / 6L), ("zh", nDocs / 8L), ("es", nDocs / 10L),
      ("fr", nDocs / 10L), ("de", nDocs / 10L))).toDF("lang", "quota")

    // real micro-batches: one corpus file per trigger (8 files → 8 batches)
    val stream = spark.readStream
      .schema(docsAll.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$corpus/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))

    val t0 = System.nanoTime()
    StreamingIntake.sinkWithQuota(stream, indexDir, screen, quota, ledgerDir,
      verdictDir, ckpt).start().awaitTermination()
    val secs = (System.nanoTime() - t0) / 1e9

    val verdicts = spark.read.parquet(verdictDir)
    val nVerdicts = verdicts.count()
    assert(nVerdicts == nDocs, s"one verdict per doc: $nVerdicts != $nDocs")
    assert(verdicts.filter(col("admitted") =!= (col("clean") && col("in_quota")))
      .isEmpty, "admitted must equal clean AND in_quota")

    // ledger conservation + quota bound
    val ledger = spark.read.option("basePath", ledgerDir).parquet(ledgerDir)
      .groupBy(col("lang")).agg(sum(col("n_admitted")).as("ledger_n"))
    val admitted = verdicts.filter(col("admitted"))
      .groupBy(col("lang")).agg(count(lit(1)).as("verdict_n"))
    val recon = ledger.join(admitted, Seq("lang"), "full_outer")
      .join(quota, Seq("lang"), "left").collect()
    recon.foreach { r =>
      val (l, ln, vn) = (r.getAs[String]("lang"),
        r.getAs[Long]("ledger_n"), r.getAs[Long]("verdict_n"))
      assert(ln == vn, s"ledger/verdict drift for $l: $ln != $vn")
      assert(ln <= r.getAs[Long]("quota"), s"quota exceeded for $l")
    }

    // replay idempotence at scale: rerun the LAST batch's screen
    val lastBatch = spark.read.option("basePath", verdictDir).parquet(verdictDir)
      .agg(max(col("__batch").cast("long"))).collect().head.getLong(0)
    val lastDocs = verdicts.filter(col("__batch") === lastBatch)
      .select(col("doc_id")).join(docsAll, "doc_id")
      .select(col("doc_id"), col("text"), col("lang"))
    val before = verdicts.filter(col("__batch") === lastBatch)
      .drop("__batch").collect().map(_.mkString("|")).sorted
    val replayed = StreamingIntake.screenBatchWithQuota(
      lastDocs, indexDir, lastBatch, screen, quota, ledgerDir)
    val after = replayed.collect().map(_.mkString("|")).sorted
    replayed.unpersist()
    assert(before.sameElements(after), "replayed last batch must converge")

    val indexRows = graft.streaming.PartitionedIndex.scan(spark, indexDir)
      .map(_.count()).getOrElse(0L)
    val admittedTotal = recon.map(_.getAs[Long]("ledger_n")).sum
    println(f"[intake-soak] docs=$nDocs verdicts=$nVerdicts " +
      f"admitted=$admittedTotal indexRows=$indexRows " +
      f"wall=${secs}%.1fs throughput=${nDocs / secs}%.0f docs/s")
    spark.stop()
  }
}
