package graft.tools

import org.apache.spark.sql.functions._

/** Scale soak for the MONITORED composed intake (the r9-round depth item
  * IntakeSoak left open): [[graft.streaming.StreamingIntake.sinkFullIvfSplitMonitored]]
  * — near-dup + decontam + SEMANTIC (streaming IVF) screens, quota
  * admission, train/val split labels, AND all three monitors (drift /
  * KPI anomaly / profile) in one foreachBatch — over the same 500k-doc
  * corpus as IntakeSoak, embeddings derived in-plan from the text hash
  * (so exact-dup texts are also semantic dups: the screens agree by
  * construction and the IVF screen does real work).
  *
  * What it checks beyond IntakeSoak's ledger-conservation set:
  *  - every batch left a drift summary, a KPI ledger row, and profile
  *    partials; the in-distribution corpus raises NO drift alerts;
  *  - the cumulative profile's exact distinct-doc count equals the
  *    corpus (bitmap OR-fold correctness at scale);
  *  - monitors cost: wall-clock vs the unmonitored IntakeSoak number
  *    for the same corpus (printed for SCALE.md);
  *  - replay idempotence at scale ACROSS the monitor artifacts: re-run
  *    the last batch, assert verdict + drift + KPI ledgers byte-stable.
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.MonitoredIntakeSoak [nDocs]"
  */
object MonitoredIntakeSoak {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(500000)
    val spark = graft.GraftSession.fromEnv(16)
    import graft.streaming.{StreamingDecontam, StreamingDrift, StreamingIntake, StreamingProfile}

    val corpus = s"/tmp/graft_intake_soak_$nDocs"
    ScaleSoak.ensureCorpus(spark, corpus, nDocs, 100)
    // augment with a text-hash-derived embedding (exact-dup texts share
    // vectors, so the sem screen fires exactly where the near-dup one
    // does) — written once beside the corpus, 8 files → 8 micro-batches
    val embCol = expr(
      """transform(sequence(0, 63),
        |  j -> cast((pmod(xxhash64(text, j), 2001) - 1000) / 1000.0 as float))""".stripMargin)
    // 16 files -> 16 micro-batches: the CUSUM monitor freezes its
    // reference on the first 8, so the back half exercises the ACTIVE
    // recurrence at scale (8 files would leave every batch in warm-up)
    val augmented = s"$corpus/documents_emb16.parquet"
    val fs = new org.apache.hadoop.fs.Path(augmented)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$augmented/_SUCCESS")))
      spark.read.parquet(s"$corpus/documents.parquet")
        .select(col("doc_id"), col("text"), col("lang"), embCol.as("embedding"))
        .repartition(16).write.mode("overwrite").parquet(augmented)

    val work = java.nio.file.Files.createTempDirectory("mon-intake-soak").toString
    val indexDir = s"$work/index"; val embIndexDir = s"$work/embindex"
    val ledgerDir = s"$work/ledger"; val releaseDir = s"$work/release"
    val labelDir = s"$work/labels"; val verdictDir = s"$work/verdicts"
    val driftBins = s"$work/dbins"; val driftSum = s"$work/dsum"
    val kpiLedger = s"$work/kledger"; val kpiVerd = s"$work/kverd"
    val profStats = s"$work/pstats"; val profBm = s"$work/pbm"
    val cusumLedger = s"$work/cledger"; val cusumVerd = s"$work/cverd"
    val ckpt = s"$work/ckpt"

    val docsAll = spark.read.parquet(augmented)
    val evalDocs = docsAll.filter(col("doc_id") % 1000 === 7)
      .select(col("doc_id"), col("text")).limit(200)
    val screen = StreamingDecontam.prepare(evalDocs)
    val quota = spark.createDataFrame(Seq(
      ("en", nDocs / 6L), ("zh", nDocs / 8L), ("es", nDocs / 10L),
      ("fr", nDocs / 10L), ("de", nDocs / 10L))).toDF("lang", "quota")
    // drift reference = the corpus's own length family (in-distribution
    // by construction: no batch should alert)
    val ref = StreamingDrift.prepare(
      docsAll.select(col("doc_id").as("id"),
        length(col("text")).cast("long").as("n_chars")),
      "n_chars", binWidth = 50L)

    val stream = spark.readStream
      .schema(docsAll.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(augmented)

    val t0 = System.nanoTime()
    StreamingIntake.sinkFullIvfSplitMonitored(stream, indexDir, embIndexDir,
      screen, quota, ledgerDir, releaseDir, labelDir, verdictDir,
      ref, driftBins, driftSum, driftThreshold = 200000L,
      kpiLedgerDir = kpiLedger, kpiVerdictDir = kpiVerd,
      profileStatsDir = profStats, profileBitmapDir = profBm,
      profileDomain = math.max(nDocs, 1024), checkpointDir = ckpt,
      // tau for UNSTRUCTURED (hash-derived) vectors: pairwise cosine is
      // ~N(0, 1/64), so the default 0.40 (3.2σ) collides with SOME prior
      // vector almost surely once the index holds 10⁵ of them — the
      // screen would reject nearly everything (measured: admitted
      // plateaued 5.4k → 5.6k from 20k → 100k docs). 0.95 (7.6σ) fires
      // only on shared-text embeddings at any soak size; production
      // embeddings have cluster structure and use the calibrated default.
      tau = 0.95,
      cusumDirs = Some((cusumLedger, cusumVerd)),
      sampleDir = Some(s"$work/sample"))
      .start().awaitTermination()
    val secs = (System.nanoTime() - t0) / 1e9

    val verdicts = spark.read.parquet(verdictDir)
    val nVerdicts = verdicts.count()
    assert(nVerdicts == nDocs, s"one verdict per doc: $nVerdicts != $nDocs")
    assert(verdicts.filter(col("admitted") =!= (col("clean") && col("in_quota")))
      .isEmpty, "admitted must equal clean AND in_quota")
    // the sem screen must fire WITH the dup structure, not against the
    // bulk: a unique text flagged as semantic dup is a geometry false
    // positive (the tau note above) — bound it
    val semFp = verdicts.filter(col("is_sem_dup") && !col("is_near_dup")).count()
    assert(semFp < nDocs / 100,
      s"semantic screen false-positive blowout: $semFp of $nDocs unique docs flagged")

    // ledger conservation + quota bound (IntakeSoak's core invariant)
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

    // every batch is monitored; the in-distribution corpus never alerts
    val nBatches = verdicts.select(col("__batch")).distinct().count()
    val driftRows = (0L until nBatches).map { b =>
      spark.read.parquet(s"$driftSum/batch_id=$b").head()
    }
    driftRows.foreach(r => assert(!r.getAs[Boolean]("is_alert"),
      s"in-distribution batch alerted: $r"))
    (0L until nBatches).foreach { b =>
      assert(spark.read.parquet(s"$kpiLedger/batch_id=$b").count() == 1L,
        s"KPI ledger missing batch $b")
    }
    // cusum: every batch has a ledger row whose kpi EQUALS the anomaly
    // ledger's (cross-monitor consistency at scale); the homogeneous
    // corpus never alarms, and the back half of the run is ACTIVE
    // (non-null cusum), so the recurrence itself was exercised
    (0L until nBatches).foreach { b =>
      val ck = spark.read.parquet(s"$cusumLedger/batch_id=$b").head().getAs[Long]("kpi")
      val ak = spark.read.parquet(s"$kpiLedger/batch_id=$b").head().getAs[Long]("kpi")
      assert(ck == ak, s"cusum/anomaly KPI drift at batch $b: $ck != $ak")
    }
    // the corpus is homogeneous but the ADMITTED volume is not: quotas
    // fill progressively, so the back half of the run admits less and
    // less — a REAL sustained decline, and the first soak run alarmed on
    // it (initially read as a false positive; it is the monitor doing
    // its job: the z-detector sees each batch within noise of its
    // trailing window while the cumulative drain is unmistakable).
    // Assert the alarm is EVIDENCE-BACKED: down-side only, never the up
    // side, and every alarmed batch admitted less than the warm-up mean.
    val cv = spark.read.parquet(cusumVerd)
    val active = cv.filter(col("cusum_up_scaled").isNotNull).count()
    assert(active == nBatches - 8,
      s"expected ${nBatches - 8} active cusum batches, got $active")
    val warmMean = (0L until 8L).map(b =>
      spark.read.parquet(s"$cusumLedger/batch_id=$b").head().getAs[Long]("kpi"))
      .sum / 8.0
    val alarms = cv.filter(col("is_alarm")).collect()
    alarms.foreach { r =>
      assert(r.getAs[Long]("kpi") < warmMean,
        s"alarmed batch ${r.getAs[Long]("batch_id")} is not below the warm-up mean")
      assert(r.getAs[Long]("cusum_dn_scaled") > r.getAs[Long]("cusum_up_scaled"),
        s"an alarm on this draining feed must come from the DOWN side: $r")
    }
    // exact cross-batch distinct through the bitmap partials
    val cum = StreamingProfile.cumulative(spark, profStats, profBm).head()
    assert(cum.getAs[Long]("n_rows") == nDocs &&
      cum.getAs[Long]("n_distinct_keys") == nDocs,
      s"profile distinct drifted at scale: $cum")

    // replay the LAST batch end-to-end; verdict + monitor artifacts stable
    def snap(dirs: Seq[String]): Seq[Seq[String]] = dirs.map { d =>
      spark.read.parquet(d).collect().map(_.toSeq.map {
        case b: Array[Byte] => b.map("%02x".format(_)).mkString
        case x => String.valueOf(x)
      }.mkString("|")).sorted.toSeq
    }
    val lastBatch = nBatches - 1
    val lastDocs = verdicts.filter(col("__batch") === lastBatch)
      .select(col("doc_id")).join(docsAll, "doc_id")
      .select(col("doc_id"), col("text"), col("lang"), col("embedding"))
    val before = snap(Seq(verdictDir, s"$driftSum/batch_id=$lastBatch",
      s"$kpiLedger/batch_id=$lastBatch"))
    val replayed = StreamingIntake.screenBatchFullIvfSplit(lastDocs, indexDir,
      embIndexDir, lastBatch, screen, quota, ledgerDir, releaseDir, labelDir)
    replayed.count(); replayed.unpersist()
    assert(snap(Seq(verdictDir, s"$driftSum/batch_id=$lastBatch",
      s"$kpiLedger/batch_id=$lastBatch")) == before,
      "replayed last batch disturbed verdicts or monitor ledgers")

    // armed PPS sample: the maintained sample over the ADMITTED stream
    // equals a batch t38 selection over exactly the admitted set — the
    // StreamingSampler decomposition equality at soak scale, composed
    // through the full monitored intake
    val admittedDocs = verdicts.filter(col("admitted"))
      .select(col("doc_id"), col("lang").as("source"))
      .join(docsAll.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), col("text"), col("source"))
    val wantSample = {
      val scored = graft.streaming.StreamingSampler.scored(admittedDocs)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("sel_key"), col("doc_id"))
      scored.withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("rn") <= graft.streaming.StreamingSampler.defaultK).drop("rn")
        .collect().map(_.mkString("|")).sorted.toSeq
    }
    val gotSample = graft.streaming.StreamingSampler.sample(spark, s"$work/sample")
      .collect().map(_.mkString("|")).sorted.toSeq
    assert(gotSample == wantSample,
      "armed PPS sample diverged from the batch selection over admitted docs")

    val admittedTotal = recon.map(_.getAs[Long]("ledger_n")).sum
    println(f"[mon-intake-soak] docs=$nDocs batches=$nBatches " +
      f"admitted=$admittedTotal wall=${secs}%.1fs " +
      f"throughput=${nDocs / secs}%.0f docs/s " +
      f"driftAlerts=0 cusumAlarms=${alarms.length} cusumActive=$active " +
      f"profileDistinct=${cum.getAs[Long]("n_distinct_keys")} " +
      f"armedSampleRows=${gotSample.size} (== batch selection over admitted)")
    spark.stop()
  }
}
